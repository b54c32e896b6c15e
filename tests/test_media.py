"""Multimodal resize / frame-sample / audio-feature operators: real
math + real Spark plumbing over the deterministic PCSV/PCSA test
containers and the real PNG/JPEG/GIF, WAV/FLAC and AVI/MP4/Matroska
codecs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from python_crawler_spark.functions import images as IMG
from python_crawler_spark.functions import media as MED
from python_crawler_spark.operators.multimodal import (
    extract_audio_features,
    resize_images,
    sample_video_frames,
    synth_image_pixels,
)

# ------------------------------------------------------------- kernels


def test_resize_bilinear_shapes_and_determinism():
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(40, 30, 3)).astype(np.uint8)
    out = IMG.resize_bilinear(px, 10, 8)
    assert out.shape == (10, 8, 3) and out.dtype == np.uint8
    assert np.array_equal(out, IMG.resize_bilinear(px, 10, 8))
    # identity resize is exact
    assert np.array_equal(IMG.resize_bilinear(px, 40, 30), px)
    # constant image stays constant under interpolation
    flat = np.full((32, 32, 3), 120, np.uint8)
    assert np.all(IMG.resize_bilinear(flat, 5, 9) == 120)


def test_thumbnail_dims_never_upscales():
    assert IMG.thumbnail_dims(10, 20, 16) == (8, 16)
    assert IMG.thumbnail_dims(10, 8, 16) == (10, 8)
    assert IMG.thumbnail_dims(100, 1, 16) == (16, 1)


def test_video_container_roundtrip_and_lazy_frames():
    frames = [
        np.full((6, 5, 3), i * 10, np.uint8) for i in range(7)
    ]
    blob = MED.encode_video(frames, fps=25)
    assert MED.video_info(blob) == (7, 25)
    got = dict(MED.iter_frames(blob))
    assert sorted(got) == list(range(7))
    w, h, fmt, px = IMG.decode_image(got[3])
    assert (w, h, fmt) == (5, 6, "png")
    assert np.array_equal(px, frames[3])


def test_sample_frame_indices():
    assert MED.sample_frame_indices(10, 4) == [0, 2, 5, 7]
    assert MED.sample_frame_indices(3, 8) == [0, 1, 2]
    assert MED.sample_frame_indices(0, 4) == []
    assert 0 in MED.sample_frame_indices(100, 5)


def test_audio_features_math():
    rate = 8000
    t = np.arange(rate)  # 1 second
    sine = (np.sin(2 * np.pi * 440 * t / rate) * 16384).astype(np.int16)
    feats = MED.audio_features(MED.encode_audio(sine, rate))
    assert feats["duration_s"] == pytest.approx(1.0)
    assert feats["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=0.01)
    assert feats["peak"] == pytest.approx(0.5, rel=0.01)
    # 440 Hz sine crosses zero ~880 times/s
    assert feats["zero_cross_rate"] == pytest.approx(880 / rate, rel=0.05)


def test_standard_codec_seams_raise():
    """The remaining library seams are exactly the perceptual codecs:
    webm/h264-class video bitstreams and mp3/aac audio. WAV, FLAC,
    AVI/MJPEG and MP4/MJPEG are real now (tests below + test_flac.py
    + test_mp4.py)."""
    with pytest.raises(NotImplementedError, match="unrecognized"):
        MED.video_info(b"FLV\x01" + b"\x00" * 16)  # container we lack
    with pytest.raises(NotImplementedError, match="mp3"):
        MED.decode_audio(b"ID3\x04....")


# ------------------------------------------------- real WAV / AVI-MJPEG


def test_wav_roundtrip_mono_16bit():
    rate = 8000
    t = np.arange(rate)
    sine = (np.sin(2 * np.pi * 440 * t / rate) * 16384).astype(np.int16)
    blob = MED.encode_wav(sine, rate)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    r, pcm = MED.decode_audio(blob)  # dispatches via RIFF/WAVE sniff
    assert r == rate
    assert np.array_equal(pcm, sine)
    # the feature math runs unchanged on real-WAV PCM
    feats = MED.audio_features(blob)
    assert feats["duration_s"] == pytest.approx(1.0)
    assert feats["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=0.01)


def test_wav_stereo_downmix():
    left = np.full(100, 1000, np.int16)
    right = np.full(100, 3000, np.int16)
    blob = MED.encode_wav(np.stack([left, right], axis=1), 16000)
    r, pcm = MED.decode_wav(blob)
    assert np.array_equal(pcm, np.full(100, 2000, np.int16))


def test_wav_8bit_and_float32():
    """Foreign WAV variants: unsigned 8-bit PCM and IEEE float32."""
    rate = 4000
    # 8-bit: rewrite a 16-bit file's fmt/data by hand
    x8 = np.array([0, 64, 128, 192, 255], np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(x8)) + x8.tobytes() + b"\x00"
    r, pcm = MED.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert r == rate and pcm[2] == 0 and pcm[0] == -32768
    # float32
    xf = np.array([0.0, 0.5, -0.5, 1.0], np.float32)
    fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 16) + xf.tobytes()
    r, pcm = MED.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert pcm[0] == 0 and pcm[1] == 16384 and pcm[3] == 32767
    # compressed codes stay a loud seam
    fmt = struct.pack("<HHIIHH", 85, 1, rate, rate, 1, 0)  # 85 = MP3
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError, match="format code"):
        MED.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_avi_mjpeg_roundtrip():
    """Real AVI container with real JPEG frames: header info, lazy
    frame iteration, and per-frame fidelity all through the standard
    dispatch paths (no PCSV anywhere)."""
    from python_crawler_spark.functions import images as IMG

    rng = np.random.RandomState(9)
    frames = [
        np.repeat(rng.randint(0, 256, (24, 32, 1)), 3, axis=2).astype(np.uint8)
        for _ in range(7)
    ]
    blob = MED.encode_avi_mjpeg(frames, fps=10, quality=100)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    n, fps = MED.video_info(blob)
    assert (n, fps) == (7, 10)
    got = list(MED.iter_frames(blob))
    assert [i for i, _ in got] == list(range(7))
    for i, fb in got:
        assert fb[:3] == b"\xff\xd8\xff"  # each frame is a real JPEG
        w, h, fmt, px = IMG.decode_image(fb)
        assert (w, h, fmt) == (32, 24, "jpeg")
        assert IMG.psnr(frames[i], px) >= 40.0  # gray noise, chroma-flat


def test_avi_sampling_is_lazy():
    """sample_frame_indices + iter_frames over AVI touches only chunk
    headers for skipped frames — the generator yields in order and can
    be abandoned early without parsing the tail."""
    frames = [np.full((8, 8, 3), i * 30, np.uint8) for i in range(8)]
    blob = MED.encode_avi_mjpeg(frames, fps=4)
    want = set(MED.sample_frame_indices(8, 3))
    it = MED.iter_frames(blob)
    picked = [fb for i, fb in it if i in want]
    assert len(picked) == 3


# ------------------------------------------------------- Spark operators


def test_resize_images_operator(spark):
    rows = []
    for i in range(6):
        px, fmt = synth_image_pixels(f"http://img.example.com/{i}")
        rows.append((f"img{i}", IMG.encode_image(px, fmt)))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = resize_images(df, max_side=12).collect()
    assert len(out) == 6
    for r in out:
        assert max(r["thumb_w"], r["thumb_h"]) <= 12
        w, h, fmt, px = IMG.decode_image(bytes(r["thumb_bytes"]))
        assert (w, h) == (r["thumb_w"], r["thumb_h"])
        assert fmt == "png"


def test_sample_video_frames_operator(spark):
    vids = []
    for v in range(3):
        frames = [
            np.full((8, 8, 3), (v * 40 + i * 5) % 256, np.uint8) for i in range(10)
        ]
        vids.append((f"vid{v}", MED.encode_video(frames, fps=30)))
    df = spark.createDataFrame(vids, "video_id string, video_bytes binary")
    out = sample_video_frames(df, n_samples=4).collect()
    # 3 videos x 4 sampled frames; video bytes column dropped
    assert len(out) == 12
    assert "video_bytes" not in out[0].asDict()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["video_id"], []).append(r["frame_idx"])
        assert (r["n_frames"], r["fps"]) == (10, 30)
        assert (r["frame_w"], r["frame_h"]) == (8, 8)
    for idxs in by_vid.values():
        assert sorted(idxs) == [0, 2, 5, 7]


def test_extract_audio_features_operator(spark):
    rows = []
    for i in range(4):
        n = 4000 * (i + 1)
        pcm = (np.sin(np.arange(n) / (3.0 + i)) * 10000).astype(np.int16)
        rows.append((f"a{i}", MED.encode_audio(pcm, 16000)))
    df = spark.createDataFrame(rows, "audio_id string, audio_bytes binary")
    out = {r["audio_id"]: r for r in extract_audio_features(df).collect()}
    assert len(out) == 4
    for i in range(4):
        r = out[f"a{i}"]
        assert r["duration_s"] == pytest.approx(4000 * (i + 1) / 16000)
        assert 0 < r["rms"] < 1 and 0 < r["peak"] <= 1


def test_operators_on_real_avi_and_wav(spark):
    """Round 4: the SAME Spark operators run on genuine AVI/MJPEG and
    WAV bytes (format sniffed per row inside the Arrow batch) — mixed
    with the deterministic containers in one DataFrame, proving the
    dispatch is per-blob, not per-job."""
    frames = [
        np.repeat(
            np.random.RandomState(40 + i).randint(0, 256, (16, 16, 1)), 3, axis=2
        ).astype(np.uint8)
        for i in range(6)
    ]
    vids = [
        ("avi0", MED.encode_avi_mjpeg(frames, fps=12, quality=100)),
        ("pcsv0", MED.encode_video(frames, fps=12)),
    ]
    vdf = spark.createDataFrame(vids, "video_id string, video_bytes binary")
    out = sample_video_frames(vdf, n_samples=3).collect()
    assert len(out) == 6  # 2 videos x 3 frames
    got = {}
    for r in out:
        assert (r["n_frames"], r["fps"]) == (6, 12)
        assert (r["frame_w"], r["frame_h"]) == (16, 16)
        got.setdefault(r["video_id"], {})[r["frame_idx"]] = r["frame_phash"]
    # JPEG-compressed (q100) frames keep the perceptual content of the
    # losslessly stored ones: q100 roundtrip moves pixels by +/-1-2,
    # which may flip phash bits whose cell mean sits AT the median, so
    # compare by Hamming distance, not equality
    for idx in got["avi0"]:
        ham = bin((got["avi0"][idx] ^ got["pcsv0"][idx]) & (2**64 - 1)).count("1")
        assert ham <= 6, f"frame {idx}: phash moved {ham} bits"

    rate = 8000
    sine = (np.sin(2 * np.pi * 440 * np.arange(rate) / rate) * 16384).astype(np.int16)
    rows = [("wav0", MED.encode_wav(sine, rate)), ("pcsa0", MED.encode_audio(sine, rate))]
    adf = spark.createDataFrame(rows, "audio_id string, audio_bytes binary")
    feats = {r["audio_id"]: r for r in extract_audio_features(adf).collect()}
    for key in ("wav0", "pcsa0"):
        assert feats[key]["duration_s"] == pytest.approx(1.0)
        assert feats[key]["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=0.01)
    assert feats["wav0"]["zero_cross_rate"] == feats["pcsa0"]["zero_cross_rate"]


# ---------------------------------------------------------- real PNG codec


def test_png_roundtrip_and_signature():
    """Round 4: fmt='png' emits REAL PNG bytes (spec signature, CRC'd
    chunks), exact pixel roundtrip through the public decode path."""
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (48, 31, 3), dtype=np.uint8)
    blob = IMG.encode_image(px, "png")
    assert blob[:8] == IMG._PNG_SIG
    # chunk CRCs are valid per the spec
    import zlib as _z
    pos = 8
    while pos < len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        typ_body = blob[pos + 4 : pos + 8 + ln]
        crc = int.from_bytes(blob[pos + 8 + ln : pos + 12 + ln], "big")
        assert crc == (_z.crc32(typ_body) & 0xFFFFFFFF)
        pos += 12 + ln
    w, h, fmt, dec = IMG.decode_image(blob)
    assert (w, h, fmt) == (31, 48, "png")
    assert np.array_equal(dec, px)


def _reencode_with_filters(px, filts):
    """Encode with chosen per-line filters — a 'foreign' PNG the
    sandbox encoder never produces."""
    import numpy as np
    import zlib as _z

    h, w = px.shape[:2]
    bpp = 3
    lines = px.reshape(h, w * bpp).astype(np.int16)
    out = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        f = filts[y % len(filts)]
        cur = lines[y]
        if f == 0:
            enc = cur % 256
        elif f == 1:
            enc = cur.copy()
            enc[bpp:] = (cur[bpp:] - cur[:-bpp]) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            enc = np.empty_like(cur)
            for x in range(0, w * bpp, bpp):
                left = cur[x - bpp : x] if x else np.zeros(bpp, dtype=np.int16)
                enc[x : x + bpp] = (cur[x : x + bpp] - ((left + prev[x : x + bpp]) >> 1)) % 256
        else:
            enc = np.empty_like(cur)
            for x in range(0, w * bpp, bpp):
                left = cur[x - bpp : x] if x else np.zeros(bpp, dtype=np.int16)
                ul = prev[x - bpp : x] if x else np.zeros(bpp, dtype=np.int16)
                enc[x : x + bpp] = (
                    cur[x : x + bpp] - IMG._paeth(left, prev[x : x + bpp], ul)
                ) % 256
        out += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = cur
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        IMG._PNG_SIG
        + IMG._chunk(b"IHDR", ihdr)
        + IMG._chunk(b"IDAT", _z.compress(bytes(out)))
        + IMG._chunk(b"IEND", b"")
    )


def test_png_decodes_all_five_filters():
    """Foreign PNGs use adaptive per-line filters; the decoder must
    reconstruct Sub/Up/Average/Paeth exactly (PNG spec §6)."""
    import numpy as np

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, (23, 17, 3), dtype=np.uint8)
    for filts in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        w, h, fmt, dec = IMG.decode_png(_reencode_with_filters(px, filts))
        assert np.array_equal(dec, px), filts


def test_png_color_types_and_errors():
    import zlib as _z

    import numpy as np
    import pytest

    rng = np.random.default_rng(17)
    px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    # RGBA: alpha dropped
    rgba = np.concatenate([px, np.full((9, 7, 1), 200, np.uint8)], axis=2)
    ihdr = (7).to_bytes(4, "big") + (9).to_bytes(4, "big") + bytes([8, 6, 0, 0, 0])
    lines = np.concatenate([np.zeros((9, 1), np.uint8), rgba.reshape(9, 28)], axis=1)
    blob = (
        IMG._PNG_SIG + IMG._chunk(b"IHDR", ihdr)
        + IMG._chunk(b"IDAT", _z.compress(lines.tobytes())) + IMG._chunk(b"IEND", b"")
    )
    _, _, _, dec = IMG.decode_png(blob)
    assert np.array_equal(dec, px)
    # unknown interlace method and 16-bit raise with clear messages
    ihdr_i = (7).to_bytes(4, "big") + (9).to_bytes(4, "big") + bytes([8, 2, 0, 0, 2])
    blob_i = (
        IMG._PNG_SIG + IMG._chunk(b"IHDR", ihdr_i)
        + IMG._chunk(b"IDAT", _z.compress(b"")) + IMG._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        IMG.decode_png(blob_i)
    ihdr_16 = (7).to_bytes(4, "big") + (9).to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    blob_16 = IMG._PNG_SIG + IMG._chunk(b"IHDR", ihdr_16) + IMG._chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        IMG.decode_png(blob_16)


def test_png_adam7_interlace_roundtrip():
    """Adam7 (round 5): seven independently-filtered passes, predictor
    reset per pass (the encoder's Up filter on every pass line makes a
    stale cross-pass predictor corrupt pixels immediately). Sizes below
    8 px leave some passes EMPTY — the spec says those emit zero bytes."""
    import numpy as np

    rng = np.random.default_rng(23)
    for h, w in [(1, 1), (2, 3), (7, 5), (8, 8), (23, 17), (40, 64)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        blob = IMG.encode_png(px, interlace=True)
        assert blob[8 + 8 + 12] == 1  # IHDR interlace byte
        dw, dh, fmt, dec = IMG.decode_png(blob)
        assert (dw, dh, fmt) == (w, h, "png")
        assert np.array_equal(dec, px), (h, w)
        # and the pipeline's sniffing dispatcher takes the same bytes
        assert np.array_equal(IMG.decode_image(blob)[3], px)


def test_jpeg_decodes_and_unknown_signature():
    """Round 4: JPEG bytes route to the real decoder (full suite in
    tests/test_jpeg.py) — a truncated stream is a loud ValueError;
    unknown signatures still refuse."""
    import pytest

    with pytest.raises(ValueError, match="no SOS"):
        IMG.decode_image(b"\xff\xd8\xff\xe0JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        IMG.decode_image(b"GIF89a....")  # GIF decodes now; cut short
    with pytest.raises(ValueError, match="unrecognized"):
        IMG.decode_image(b"BM......")  # BMP really is unrecognized


# ------------------------------------------------- IMA ADPCM (WAV 0x11)


def test_ima_adpcm_wav_roundtrip_snr():
    """ADPCM is lossy 4-bit; a sine must survive with high SNR and
    exact length/rate through the decode_audio dispatch."""
    rate = 16000
    t = np.arange(10_100) / rate
    sine = np.round(12000 * np.sin(2 * np.pi * 330 * t)).astype(np.int16)
    blob = MED.encode_wav_ima_adpcm(sine, rate)
    r, pcm = MED.decode_audio(blob)
    assert r == rate
    got = pcm[: len(sine)].astype(np.float64)
    want = sine.astype(np.float64)
    snr = 10 * np.log10(np.sum(want**2) / max(1.0, np.sum((got - want) ** 2)))
    assert snr > 30.0, snr
    feats = MED.audio_features(blob)
    assert feats["sample_rate"] == rate


def test_ima_adpcm_golden_block():
    """Pin the nibble state machine against hand-stepped values from
    the public IMA tables (step 7 ladder from index 0)."""
    # header: pred=0, index=0; nibbles 0,1,2,4,8 ...
    import struct as S
    nibbles = [0x0, 0x1, 0x2, 0x4, 0x8, 0xF, 0x7, 0x3]
    body = S.pack("<hBx", 0, 0)
    body += bytes([nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, 8, 2)])
    out = MED._ima_adpcm_decode(body, 1, len(body))
    # hand-stepped: see _ima_step_one (diff = step>>3 + bits)
    pred, idx, expect = 0, 0, []
    for n in nibbles:
        pred, idx = MED._ima_step_one(pred, idx, n)
        expect.append(pred)
    assert out[1:].tolist() == expect  # out[0] is the header predictor


def test_demux_malformed_bytes_raise_typed_errors_only():
    """The container demuxers (AVI/MP4/Matroska/PCSV) and audio
    decoders (WAV/FLAC/PCSA) see ARBITRARY bytes on a real crawl: any
    mutation of a valid stream must either still parse or raise
    ValueError (malformed) / NotImplementedError (valid stream,
    documented library-class seam) — the same typed-failure contract
    decode_image enforces for images. Seeded fuzz, all containers via
    the hash-cycled synth corpora."""
    import random

    from python_crawler_spark.functions import media as MED
    from python_crawler_spark.operators.multimodal import (
        synth_audio_blob,
        synth_video_blob,
    )

    rng = random.Random(11)

    def mutate(b: bytes) -> bytes:
        bb = bytearray(b)
        op = rng.randrange(3)
        if op == 0:
            return bytes(bb[: rng.randrange(1, len(bb))])
        if op == 1:
            for _ in range(rng.randrange(1, 6)):
                bb[rng.randrange(len(bb))] = rng.randrange(256)
            return bytes(bb)
        return bytes(bb[: rng.randrange(len(bb))]) + bytes(
            rng.randrange(256) for _ in range(rng.randrange(40))
        )

    vids = [synth_video_blob(f"http://v.invalid/{i}.bin") for i in range(8)]
    auds = [synth_audio_blob(f"http://a.invalid/{i}.bin") for i in range(8)]
    n = failed = 0
    for b in vids:
        for _ in range(40):
            n += 1
            try:
                MED.video_info(mutate(b))
                list(MED.iter_frames(mutate(b)))
            except (ValueError, NotImplementedError):
                failed += 1
    for b in auds:
        for _ in range(40):
            n += 1
            try:
                MED.decode_audio(mutate(b))
            except (ValueError, NotImplementedError):
                failed += 1
    assert failed > 0  # the fuzz actually corrupts
    # any other exception type propagates out of the try and fails here


def test_video_and_audio_operators_on_error_null_quarantine(spark):
    """sample_video_frames under on_error='null' emits ONE all-NULL
    verdict row for a corrupt video (quarantine predicate `frame_idx
    IS NULL`) while valid videos in the same batch explode normally;
    extract_audio_features yields NULL feature columns for a corrupt
    clip. Both raise by default."""
    import pytest

    from pyspark.sql import types as T

    from python_crawler_spark.operators.multimodal import (
        extract_audio_features,
        sample_video_frames,
        synth_audio_blob,
        synth_video_blob,
    )

    good_v = synth_video_blob("http://v.invalid/q.bin")
    schema_v = T.StructType(
        [T.StructField("tag", T.StringType()),
         T.StructField("video_bytes", T.BinaryType())]
    )
    dfv = spark.createDataFrame(
        [("good", bytearray(good_v)), ("bad", bytearray(good_v[:11]))], schema_v
    )
    rows = sample_video_frames(dfv, n_samples=2, on_error="null").collect()
    by_tag = {}
    for r in rows:
        by_tag.setdefault(r["tag"], []).append(r)
    assert len(by_tag["bad"]) == 1 and by_tag["bad"][0]["frame_idx"] is None
    assert by_tag["bad"][0]["n_frames"] is None
    assert len(by_tag["good"]) == 2
    assert all(r["frame_idx"] is not None for r in by_tag["good"])
    with pytest.raises(Exception):
        sample_video_frames(dfv, n_samples=2, on_error="raise").collect()

    good_a = synth_audio_blob("http://a.invalid/q.bin")
    schema_a = T.StructType(
        [T.StructField("tag", T.StringType()),
         T.StructField("audio_bytes", T.BinaryType())]
    )
    dfa = spark.createDataFrame(
        [("good", bytearray(good_a)), ("bad", bytearray(good_a[:7]))], schema_a
    )
    out = {
        r["tag"]: r
        for r in extract_audio_features(dfa, on_error="null").collect()
    }
    assert out["bad"]["sample_rate"] is None and out["bad"]["rms"] is None
    assert out["good"]["sample_rate"] is not None
    with pytest.raises(Exception):
        extract_audio_features(dfa, on_error="raise").collect()
