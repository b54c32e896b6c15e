"""Progressive JPEG (functions/jpeg_progressive.py) — T.81 Annex G.

The key invariant: progressive is a LOSSLESS reordering of the same
quantized coefficients, so for identical (quality, subsample) the
decoded pixels must be BIT-IDENTICAL to the baseline encoding's —
asserted exactly, not via PSNR, on content chosen to force every
Annex-G code path (EOBn runs on flat blocks, ZRL in refinement scans
on sparse high-frequency content, multi-step successive approximation
on noise).
"""

from __future__ import annotations

import numpy as np
import pytest

from python_crawler_spark.functions import images as IMG
from python_crawler_spark.functions import jpeg as J
from python_crawler_spark.functions import jpeg_progressive as P


def _noise(h, w, seed=7):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)


def _smooth(h, w):
    gx = np.linspace(0, 255, w)
    gy = np.linspace(255, 0, h)
    return np.stack(np.meshgrid(gx, gy) + [np.full((h, w), 90.0)], axis=-1).astype(np.uint8)


def _flat_with_details(h, w, seed=3):
    """Mostly-flat image (long EOB runs) with a few sharp dots (forces
    ZRL + isolated high-frequency coefficients)."""
    px = np.full((h, w, 3), 180, dtype=np.uint8)
    rs = np.random.RandomState(seed)
    for _ in range(6):
        y, x = rs.randint(0, h), rs.randint(0, w)
        px[y, x] = rs.randint(0, 256, 3)
    return px


CONTENT = {
    "noise": _noise,
    "smooth": _smooth,
    "flat": _flat_with_details,
}


# ------------------------------------------------- baseline equivalence


@pytest.mark.parametrize("kind", sorted(CONTENT))
@pytest.mark.parametrize("sub", ["444", "420"])
def test_progressive_equals_baseline_exactly(kind, sub):
    """Same quantized coefficients -> same pixels, bit for bit, for
    every content class and both subsampling layouts."""
    px = CONTENT[kind](37, 21)
    for q in (75, 100):
        base = J.decode_jpeg(J.encode_jpeg(px, q, sub))[3]
        blob = P.encode_jpeg_progressive(px, q, sub)
        w, h, fmt, dec = J.decode_jpeg(blob)
        assert (w, h, fmt) == (21, 37, "jpeg")
        assert np.array_equal(dec, base), f"{kind}/{sub}/q{q} diverged"


def test_progressive_is_sof2():
    blob = P.encode_jpeg_progressive(_noise(16, 16), 90)
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
    # several scans: more than one SOS marker
    assert blob.count(b"\xff\xda") >= 5


def test_progressive_gray_matches_baseline_gray():
    g = np.random.RandomState(11).randint(0, 256, (29, 18)).astype(np.uint8)
    base = J.decode_jpeg(J.encode_jpeg_gray(g, 95))[3]
    dec = J.decode_jpeg(P.encode_jpeg_gray_progressive(g, 95))[3]
    assert np.array_equal(dec, base)


def test_progressive_psnr_invariant_q100():
    """The pipeline's PSNR>=40dB per-row invariant holds through the
    progressive path on the hardest (noise) content."""
    px = _noise(40, 30, 5)
    dec = J.decode_jpeg(P.encode_jpeg_progressive(px, 100))[3]
    assert IMG.psnr(px, dec) >= 40.0


# ------------------------------------------------- restart intervals


@pytest.mark.parametrize("ri", [1, 3, 7])
def test_progressive_restart_intervals(ri):
    """RSTn markers inside progressive scans: DC predictors and EOB
    runs reset per segment on both sides; pixels stay identical to the
    unrestarted stream."""
    px = _flat_with_details(33, 26)
    base = J.decode_jpeg(P.encode_jpeg_progressive(px, 85))[3]
    blob = P.encode_jpeg_progressive(px, 85, restart_interval=ri)
    assert b"\xff\xd0" in blob
    assert np.array_equal(J.decode_jpeg(blob)[3], base)


# ------------------------------------------------- EOB-run stress


def test_flat_image_exercises_eob_runs():
    """A flat image's AC scans are almost entirely EOB runs; the
    stream must use EOBn symbols (shorter than per-block EOB0s) and
    still decode exactly."""
    px = np.full((64, 64, 3), 200, dtype=np.uint8)
    blob = P.encode_jpeg_progressive(px, 85)
    per_block = P.encode_jpeg_progressive(px, 85, script=None)
    base = J.decode_jpeg(J.encode_jpeg(px, 85))[3]
    assert np.array_equal(J.decode_jpeg(blob)[3], base)
    # an EOBn-compressed AC scan over 64 flat blocks is tiny: the whole
    # progressive file undercuts the baseline file (which spends one
    # EOB0 per block per component)
    assert len(blob) < len(J.encode_jpeg(px, 85))
    assert np.array_equal(J.decode_jpeg(per_block)[3], base)


def test_wide_flat_forces_long_eobrun_with_refinement_bits():
    """Flat background + one detailed block per band region: EOB runs
    in REFINEMENT scans must buffer and re-emit correction bits
    (T.81 G.1.2.3's subtlest path)."""
    px = np.full((24, 24 * 16, 3), 140, dtype=np.uint8)
    rs = np.random.RandomState(9)
    px[5:8, 5:8] = rs.randint(0, 256, (3, 3, 3))          # detail early
    px[10:14, -20:-10] = rs.randint(0, 256, (4, 10, 3))   # detail late
    base = J.decode_jpeg(J.encode_jpeg(px, 80))[3]
    assert np.array_equal(J.decode_jpeg(P.encode_jpeg_progressive(px, 80))[3], base)


# ------------------------------------------------- sequential multi-scan


def test_sequential_noninterleaved_roundtrip():
    """SOF0 with one full scan per component (the layout decode_jpeg
    used to reject with NotImplementedError) decodes identically to
    the interleaved baseline file."""
    px = _noise(22, 35, 4)
    for sub in ("444", "420"):
        base = J.decode_jpeg(J.encode_jpeg(px, 90, sub))[3]
        blob = P.encode_jpeg_noninterleaved(px, 90, sub)
        assert b"\xff\xc0" in blob and b"\xff\xc2" not in blob
        assert blob.count(b"\xff\xda") == 3
        assert np.array_equal(J.decode_jpeg(blob)[3], base)


# ------------------------------------------------- custom scripts


def test_single_step_approximation_script():
    """A script with Al=0 everywhere (pure spectral selection, no
    successive approximation) is also valid Annex G."""
    px = _noise(17, 19, 8)
    script = [
        ((1, 2, 3), 0, 0, 0, 0),
        ((1,), 1, 63, 0, 0),
        ((2,), 1, 63, 0, 0),
        ((3,), 1, 63, 0, 0),
    ]
    base = J.decode_jpeg(J.encode_jpeg(px, 92))[3]
    blob = P.encode_jpeg_progressive(px, 92, script=script)
    assert np.array_equal(J.decode_jpeg(blob)[3], base)


def test_deep_approximation_script():
    """Three refinement steps (Al 3->2->1->0) on the Y AC band."""
    px = _noise(16, 16, 13)
    script = [
        ((1, 2, 3), 0, 0, 0, 0),
        ((1,), 1, 63, 0, 3),
        ((2,), 1, 63, 0, 0),
        ((3,), 1, 63, 0, 0),
        ((1,), 1, 63, 3, 2),
        ((1,), 1, 63, 2, 1),
        ((1,), 1, 63, 1, 0),
    ]
    base = J.decode_jpeg(J.encode_jpeg(px, 88))[3]
    blob = P.encode_jpeg_progressive(px, 88, script=script)
    assert np.array_equal(J.decode_jpeg(blob)[3], base)


# ------------------------------------------------- pipeline integration


def test_images_decode_auto_handles_progressive():
    """The pipeline's format-sniffing decoder accepts progressive
    bytes (same FFD8 magic) without any caller change."""
    px = _smooth(20, 20)
    blob = P.encode_jpeg_progressive(px, 100)
    w, h, fmt, dec = IMG.decode_image(blob)
    assert (w, h, fmt) == (20, 20, "jpeg")
    assert IMG.psnr(px, dec) >= 40.0
