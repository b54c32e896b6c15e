"""Baseline JPEG codec (functions/jpeg.py) — pure-numpy T.81.

The encoder and decoder are exercised on paths the OTHER side does not
share (4:2:0 subsampling, restart intervals, grayscale files, foreign
marker layouts), so a mirrored encode/decode bug cannot silently pass:
every structural claim (marker layout, standard tables, zigzag
storage) is asserted against the public spec's byte layout directly.
"""

from __future__ import annotations

import numpy as np
import pytest

from python_crawler_spark.functions import images as IMG
from python_crawler_spark.functions import jpeg as J


def _noise(h, w, seed=7):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)


def _smooth(h, w):
    gx = np.linspace(0, 255, w)
    gy = np.linspace(255, 0, h)
    return np.stack(np.meshgrid(gx, gy) + [np.full((h, w), 90.0)], axis=-1).astype(np.uint8)


# ------------------------------------------------------------ roundtrip


def test_q100_noise_psnr_holds_input_hint():
    """quality=100 -> all-ones quant tables; even random noise (the
    hardest DCT content) stays above the 40 dB pipeline invariant."""
    for seed in (1, 2, 3):
        px = _noise(40, 30, seed)
        w, h, fmt, dec = J.decode_jpeg(J.encode_jpeg(px, 100))
        assert (w, h, fmt) == (30, 40, "jpeg")
        assert IMG.psnr(px, dec) >= 40.0


def test_quality_ladder_monotonic():
    """Lower quality -> smaller files and (on smooth content) lower
    PSNR; every rung stays a decodable, consistent image."""
    px = _smooth(64, 64)
    sizes, psnrs = [], []
    for q in (50, 75, 90, 100):
        blob = J.encode_jpeg(px, q)
        _, _, _, dec = J.decode_jpeg(blob)
        sizes.append(len(blob))
        psnrs.append(IMG.psnr(px, dec))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)
    assert psnrs[0] >= 30.0  # q50 on a smooth gradient is still clean


def test_odd_dimensions_crop():
    """Non-multiple-of-8 frames pad on encode and crop on decode."""
    px = _noise(13, 27)
    for sub in ("444", "420"):
        w, h, _, dec = J.decode_jpeg(J.encode_jpeg(px, 100, sub))
        assert (w, h) == (27, 13)
        assert dec.shape == (13, 27, 3)


def test_420_subsampling_decodes():
    """4:2:0 exercises the decoder's general MCU path (4 Y blocks +
    Cb + Cr per 16x16 MCU, chroma upsampling). Grayscale content is
    chroma-flat, so 4:2:0 loses nothing beyond the Y path there."""
    y = np.random.RandomState(3).randint(0, 256, (21, 33)).astype(np.uint8)
    px = np.repeat(y[:, :, None], 3, axis=2)
    w, h, _, dec = J.decode_jpeg(J.encode_jpeg(px, 100, "420"))
    assert (w, h) == (33, 21)
    assert IMG.psnr(px, dec) >= 40.0
    # colored smooth content survives with sensible fidelity
    px2 = _smooth(32, 48)
    _, _, _, dec2 = J.decode_jpeg(J.encode_jpeg(px2, 95, "420"))
    assert IMG.psnr(px2, dec2) >= 28.0


def test_restart_intervals_identical():
    """DRI/RSTn segmentation must not change decoded pixels (predictor
    resets are exactly compensated)."""
    px = _noise(48, 56, 11)
    base = J.decode_jpeg(J.encode_jpeg(px, 100))[3]
    for ri in (1, 3, 7):
        dec = J.decode_jpeg(J.encode_jpeg(px, 100, restart_interval=ri))[3]
        assert np.array_equal(dec, base)
    dec420 = J.decode_jpeg(J.encode_jpeg(px, 90, "420", restart_interval=2))[3]
    assert np.array_equal(dec420, J.decode_jpeg(J.encode_jpeg(px, 90, "420"))[3])


def test_grayscale_single_component():
    """1-component files decode through the grayscale branch and
    replicate to the pipeline's RGB schema."""
    g = np.random.RandomState(5).randint(0, 256, (17, 26)).astype(np.uint8)
    w, h, fmt, dec = J.decode_jpeg(J.encode_jpeg_gray(g, 100))
    assert (w, h, fmt) == (26, 17, "jpeg")
    assert dec.shape == (17, 26, 3)
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert IMG.psnr(np.repeat(g[:, :, None], 3, axis=2), dec) >= 40.0


# ----------------------------------------------------- spec conformance


def test_marker_layout_and_standard_tables():
    """Byte-level conformance facts a mirrored codec bug cannot fake:
    SOI/EOI framing, JFIF APP0, zigzag-order DQT storage, Annex-K
    Huffman table bytes, SOF0 frame header fields."""
    px = _noise(16, 24)
    blob = J.encode_jpeg(px, 75)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert blob[2:4] == b"\xff\xe0" and blob[6:11] == b"JFIF\x00"
    # DQT stores values in zigzag order: element 0 is the DC step,
    # element 1 the (0,1) step, element 2 the (1,0) step (T.81 B.2.4.1)
    i = blob.index(b"\xff\xdb")
    qlum, _ = J.quality_tables(75)
    stored = blob[i + 5 : i + 5 + 64]
    assert stored[0] == qlum[0, 0]
    assert stored[1] == qlum[0, 1]
    assert stored[2] == qlum[1, 0]
    # DHT carries the Annex-K BITS/HUFFVAL verbatim
    j = blob.index(b"\xff\xc4")
    assert blob[j + 5 : j + 21] == bytes(J.DC_LUM_BITS)
    # SOF0: precision 8, height, width, 3 components
    k = blob.index(b"\xff\xc0")
    assert blob[k + 4] == 8
    assert int.from_bytes(blob[k + 5 : k + 7], "big") == 16
    assert int.from_bytes(blob[k + 7 : k + 9], "big") == 24
    assert blob[k + 9] == 3


def test_byte_stuffing():
    """Every 0xFF inside the entropy segment must be followed by 0x00
    or a RST marker (T.81 F.1.2.3) — scan the whole stream."""
    px = _noise(32, 32, 13)
    blob = J.encode_jpeg(px, 100, restart_interval=2)
    sos = blob.index(b"\xff\xda")
    body_start = sos + 2 + int.from_bytes(blob[sos + 2 : sos + 4], "big")
    i = body_start
    while i < len(blob) - 2:
        if blob[i] == 0xFF:
            nxt = blob[i + 1]
            assert nxt == 0x00 or 0xD0 <= nxt <= 0xD9, f"bare 0xFF at {i}"
            i += 2
        else:
            i += 1


def test_dqt_16bit_precision_decodes():
    """Foreign files may carry 16-bit quant tables (Pq=1); the decoder
    must honor them. Rewrite our 8-bit DQT segments as 16-bit."""
    px = _noise(16, 16, 17)
    blob = bytearray(J.encode_jpeg(px, 100))
    out = bytearray()
    i = 0
    while i < len(blob):
        if blob[i] == 0xFF and blob[i + 1] == 0xDB:
            ln = int.from_bytes(blob[i + 2 : i + 4], "big")
            tid = blob[i + 4]
            vals = blob[i + 5 : i + 5 + 64]
            body = bytes([0x10 | tid]) + b"".join(
                int(v).to_bytes(2, "big") for v in vals
            )
            out += b"\xff\xdb" + (len(body) + 2).to_bytes(2, "big") + body
            i += 2 + ln
        else:
            out.append(blob[i])
            i += 1
    dec8 = J.decode_jpeg(bytes(blob))[3]
    dec16 = J.decode_jpeg(bytes(out))[3]
    assert np.array_equal(dec8, dec16)


# ----------------------------------------------------------- error edges


def test_sof2_retag_decodes_via_generic_path():
    """Progressive (SOF2) no longer raises (round 5,
    functions/jpeg_progressive.py). A baseline stream retagged SOF2 is
    a spec bend (a progressive DC scan may not span Se=63), but the
    generic multi-scan path decodes it tolerantly — and identically."""
    px = _noise(16, 16)
    base = J.decode_jpeg(J.encode_jpeg(px, 100))[3]
    blob = bytearray(J.encode_jpeg(px, 100))
    i = blob.index(b"\xff\xc0")
    blob[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    assert np.array_equal(J.decode_jpeg(bytes(blob))[3], base)


def test_arithmetic_coding_raises():
    px = _noise(16, 16)
    blob = bytearray(J.encode_jpeg(px, 100))
    i = blob.index(b"\xff\xc0")
    blob[i + 1] = 0xC9  # SOF9: arithmetic sequential — out of scope
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_jpeg(bytes(blob))


def test_not_a_jpeg_raises():
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_truncated_raises():
    px = _noise(16, 16)
    blob = J.encode_jpeg(px, 100)
    sos = blob.index(b"\xff\xda")
    with pytest.raises(ValueError, match="no SOS"):
        J.decode_jpeg(blob[:sos])


# ------------------------------------------------------ pipeline wiring


def test_images_dispatch_real_jpeg():
    """encode_image(fmt='jpeg') now emits real JFIF bytes; the decode
    dispatch routes them through decode_jpeg."""
    px = _noise(24, 18, 23)
    blob = IMG.encode_image(px, "jpeg")
    assert blob[:3] == b"\xff\xd8\xff"
    w, h, fmt, dec = IMG.decode_image(blob)
    assert (w, h, fmt) == (18, 24, "jpeg")
    assert IMG.psnr(px, dec) >= 40.0


# ------------------------------------------------- one scan decoder


def _golden_corpus() -> list[bytes]:
    """Fixed baseline (SOF0) corpus: 4:4:4 and 4:2:0, restart intervals
    0 and 2, qualities 100/75/30, odd sizes, grayscale, and the
    synthetic web's EXIF-carrying baseline JPEGs."""
    from python_crawler_spark.operators.multimodal import (
        synth_image_blob,
        synth_image_pixels,
    )

    blobs = []
    for sub in ("444", "420"):
        for ri in (0, 2):
            for q in (100, 75, 30):
                for h, w in ((1, 1), (13, 27), (16, 16), (31, 9)):
                    blobs.append(J.encode_jpeg(_noise(h, w, h * w), q, sub, ri))
                blobs.append(J.encode_jpeg(_smooth(24, 40), q, sub, ri))
    rng = np.random.RandomState(19)
    for q in (100, 75, 30):
        for h, w in ((1, 1), (17, 26), (16, 8)):
            g = rng.randint(0, 256, (h, w)).astype(np.uint8)
            blobs.append(J.encode_jpeg_gray(g, q))
    for i in range(240):
        url = f"http://img.example.invalid/exif/{i}.bin"
        if synth_image_pixels(url)[1] == "jpeg":
            blobs.append(synth_image_blob(url))
    return blobs


# sha256 over decode_image's (w, h, fmt, pixels) for _golden_corpus,
# recorded while baseline scans still had their own entropy decoder
_GOLDEN_N = 104
_GOLDEN_SHA256 = "7200ea8fbd5c19ce9e4c6d28e4aadfa4032ff33372b646d821002490d46bcab7"


def test_baseline_decode_golden_digest():
    """Baseline files decode through the same Annex G scan decoder as
    progressive and multi-scan ones; their pixels must stay bit-equal
    to the recorded digest of the former baseline-only decoder."""
    import hashlib

    blobs = _golden_corpus()
    assert all(b"\xff\xc0" in b for b in blobs)
    d = hashlib.sha256()
    for blob in blobs:
        w, h, fmt, px = IMG.decode_image(blob)
        d.update(f"{w}x{h}:{fmt}:{px.shape}:{px.dtype};".encode())
        d.update(px.tobytes())
    assert (len(blobs), d.hexdigest()) == (_GOLDEN_N, _GOLDEN_SHA256)


def test_fill_bytes_before_markers():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes —
    before a table segment, before RSTn inside a scan, and between the
    last scan and EOI. Each filled file decodes equal to the unfilled
    one, baseline and progressive."""
    import re

    from python_crawler_spark.functions import jpeg_progressive as P

    px = _noise(24, 40, 29)
    fill = b"\xff" * 3
    for blob in (
        J.encode_jpeg(px, 90, "420", restart_interval=2),
        P.encode_jpeg_progressive(px, 90, restart_interval=2),
    ):
        want = J.decode_jpeg(blob)
        i = blob.index(b"\xff\xdb")
        before_table = blob[:i] + fill + blob[i:]
        before_eoi = blob[:-2] + fill + blob[-2:]
        before_rst = re.sub(rb"\xff([\xd0-\xd7])", fill + rb"\1", blob)
        assert before_rst != blob
        for filled in (before_table, before_eoi, before_rst):
            w, h, fmt, dec = J.decode_jpeg(filled)
            assert (w, h, fmt) == want[:3]
            assert np.array_equal(dec, want[3])


def test_four_component_frames_raise_in_every_layout():
    """A 4-component (CMYK-style) frame is out of scope in every scan
    layout: the frame header is refused before any scan decodes, so
    no layout can decode it silently to wrong colours."""
    from python_crawler_spark.functions import jpeg_progressive as P

    px = _noise(16, 16, 31)
    qlum, qchrom = J.quality_tables(90)
    ycc = J.rgb_to_ycbcr(px) - 128.0
    zz = {
        cid: J._quantize_zigzag(J._blocks_of(ycc[..., (cid - 1) % 3]), qlum if cid == 1 else qchrom)
        for cid in (1, 2, 3, 4)
    }
    comps = [{"id": cid, "h": 1, "v": 1, "tq": 0 if cid == 1 else 1} for cid in (1, 2, 3, 4)]
    frame = {"h": 16, "w": 16, "comps": comps}
    layouts = [
        # baseline, one interleaved scan
        ([((1, 2, 3, 4), 0, 63, 0, 0)], 0xC0),
        # baseline, one scan per component
        ([((cid,), 0, 63, 0, 0) for cid in (1, 2, 3, 4)], 0xC0),
        # progressive: interleaved DC scan, then one AC scan per component
        ([((1, 2, 3, 4), 0, 0, 0, 0)] + [((cid,), 1, 63, 0, 0) for cid in (1, 2, 3, 4)], 0xC2),
    ]
    for script, sof in layouts:
        blob = P._assemble(frame, zz, {0: qlum, 1: qchrom}, script, 0, sof_marker=sof)
        with pytest.raises(NotImplementedError, match="4-component"):
            IMG.decode_image(blob)


def test_sequential_scan_ignores_spectral_header_bytes():
    """A sequential (SOF0/SOF1) scan is always Ss=0, Se=63, Ah=Al=0.
    Some baseline encoders write zeroes (or other junk) in those SOS
    bytes; like libjpeg, the decoder ignores them, so the patched file
    decodes equal to the untouched one."""

    def patch_sos(blob: bytes, se: int, ahal: int) -> bytes:
        out = bytearray(blob)
        i = out.index(b"\xff\xda")
        ns = out[i + 4]
        out[i + 6 + 2 * ns] = se
        out[i + 7 + 2 * ns] = ahal
        return bytes(out)

    for blob in (
        J.encode_jpeg(_noise(24, 40, 37), 90, "420", restart_interval=2),
        J.encode_jpeg_gray(_noise(13, 27, 41)[..., 0], 75),
    ):
        want = IMG.decode_image(blob)
        for se, ahal in ((0, 0x00), (63, 0x01), (0, 0x12)):
            patched = patch_sos(blob, se, ahal)
            assert patched != blob
            w, h, fmt, dec = IMG.decode_image(patched)
            assert (w, h, fmt) == want[:3]
            assert np.array_equal(dec, want[3])
