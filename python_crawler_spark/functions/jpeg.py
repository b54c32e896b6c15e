"""JPEG codec — pure numpy + stdlib, public ITU T.81 spec.

Closes the last image-codec seam (rounds 1-3 documented JPEG as the
one format needing turbojpeg/PIL). This is a from-scratch
implementation of the baseline sequential DCT encoder and of the one
JPEG decoder (JFIF container); the progressive and multi-scan
encoders live in functions/jpeg_progressive.py:

- **encode_jpeg**: RGB -> YCbCr (JFIF/BT.601) -> optional 4:2:0 chroma
  downsample -> 8x8 forward DCT (one einsum over all blocks) ->
  Annex-K quantization scaled by libjpeg's public quality formula ->
  zigzag -> DC-differential + AC run-length -> Annex-K Huffman tables
  -> byte-stuffed entropy stream. Emits SOI/APP0/DQT/SOF0/DHT/SOS/EOI.
- **decode_jpeg**: marker parse (DQT 8/16-bit, multi-table DHT, DRI
  restart intervals, 0xFF fill bytes, SOF0/SOF1/SOF2), then ONE scan
  decoder for every layout — the Annex G progressive decoder
  (spectral selection, successive approximation, EOBRUN), of which a
  sequential scan is the Ss=0, Se=63, Ah=Al=0 case — with
  canonical-Huffman 16-bit-peek lookup, then dequantize + inverse
  zigzag, batched IDCT, per-component h/v upsampling (any 1-2
  sampling factors, so foreign 4:2:0 / 4:2:2 files decode, not just
  this encoder's output), YCbCr -> RGB. Arithmetic coding, lossless,
  hierarchical modes and frames of other than 1 or 3 components raise
  NotImplementedError with a clear message.

Everything here derives from the public JPEG standard (ITU-T T.81 /
ISO 10918-1: Annex K tables, Annex C canonical Huffman, Annex F
EXTEND) and the public JFIF spec. Quality scaling uses libjpeg's
published formula. At quality=100 every quantizer step is 1, so the
only loss is DCT float rounding + chroma transform rounding — PSNR
stays far above the 40 dB pipeline invariant even on random-noise
images (the hardest DCT case), which is why the pipeline default is
100 (functions/images.py).

Reference analog: the reference streams real JPEG bytes from
mp.weixin.qq.com (/root/reference/crawler/weixin_public.py:315-321)
and only ever re-hosts them; this engine additionally understands the
format. Hot-path use is wrapped in Arrow pandas UDFs by
operators/multimodal.py; the per-symbol entropy loops here are
per-image, bounded by thumbnail sizes, and run inside executor-side
batches (never per-row Python in the plan).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- tables
# ITU T.81 Annex K.1 — example quantization tables (the de-facto
# standard ones every encoder ships).
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Zigzag scan order (T.81 Figure 5): ZIGZAG[k] = raster index of the
# k-th zigzag coefficient.
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((y, x) for y in range(8) for x in range(8)),
        key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 else p[0]),
    )
    return np.array([y * 8 + x for y, x in order], dtype=np.int64)

ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# T.81 Annex K.3 — typical Huffman tables: (BITS counts per code
# length 1..16, HUFFVAL symbol list).
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Orthonormal DCT-II matrix: dct = D @ block @ D.T, idct = D.T @ c @ D.
def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * np.sqrt(2 / 8)
    d[0, :] = np.sqrt(1 / 8)
    return d

DCT_M = _dct_matrix()


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex-K tables scaled by libjpeg's public quality formula.
    quality=100 -> every step 1 (near-lossless)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((QUANT_LUM * scale + 50) // 100, 1, 255).astype(np.int32)
    chrom = np.clip((QUANT_CHROM * scale + 50) // 100, 1, 255).astype(np.int32)
    return lum, chrom


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C: symbol -> (code, length) for a BITS/HUFFVAL spec."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------- encoder

class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            # pad with 1-bits (T.81 F.1.2.3)
            self.put(0xFF, 8 - self.nbits)
        return bytes(self.out)


def _mag_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) float -> (n_blocks, 8, 8) in raster block order; H, W
    must already be multiples of 8."""
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate to multiples of (mh, mw)."""
    hh, ww = plane.shape
    ph = (-hh) % mh
    pw = (-ww) % mw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _quantize_zigzag(blocks: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """Forward DCT + quantize + zigzag for a (n, 8, 8) float batch ->
    (n, 64) int32. One einsum pair over the whole batch."""
    coeffs = np.einsum("ij,njk,lk->nil", DCT_M, blocks, DCT_M)
    q = np.round(coeffs / qtab).astype(np.int32)
    return q.reshape(-1, 64)[:, ZIGZAG]


def _encode_block(
    bw: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one zigzagged block; returns the new DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _mag_category(diff)
    code, ln = dc_codes[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(zz[1:])[0]
    prev = 0
    for idx in nz:
        run = int(idx) - prev
        prev = int(idx) + 1
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        v = int(zz[1 + idx])
        s = _mag_category(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
    if prev != 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB -> float64 YCbCr (JFIF full-range BT.601)."""
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """float YCbCr -> (h, w, 3) uint8 RGB (JFIF inverse)."""
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 100,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes.

    subsample: '444' (one 8x8 MCU per component position) or '420'
    (2x2 chroma downsample, 16x16 MCUs — the common web layout; also
    serves as the test vector for the decoder's general MCU path).
    restart_interval > 0 emits a DRI segment and RST0-7 markers every
    that many MCUs (predictors reset — exercises the decoder's
    restart path, and is what web encoders emit for error resilience)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("pixels must be (h, w, 3) uint8")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    h, w = pixels.shape[:2]
    qlum, qchrom = quality_tables(quality)
    ycc = rgb_to_ycbcr(pixels) - 128.0
    if subsample == "444":
        hs = vs = 1
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
    else:
        hs = vs = 2
        ypad = _pad_to(ycc[..., 0], 2, 2)
        # 2x2 mean chroma downsample
        planes = [ycc[..., 0]]
        for c in (1, 2):
            cp = _pad_to(ycc[..., c], 2, 2)
            planes.append((cp[0::2, 0::2] + cp[0::2, 1::2] + cp[1::2, 0::2] + cp[1::2, 1::2]) / 4.0)
        planes[0] = ypad

    mcu_h, mcu_w = 8 * vs, 8 * hs
    yplane = _pad_to(planes[0], mcu_h, mcu_w)
    cbp = _pad_to(planes[1], 8, 8)
    crp = _pad_to(planes[2], 8, 8)
    yzz = _quantize_zigzag(_blocks_of(yplane), qlum)
    cbzz = _quantize_zigzag(_blocks_of(cbp), qchrom)
    crzz = _quantize_zigzag(_blocks_of(crp), qchrom)
    yblocks_w = yplane.shape[1] // 8

    dc_l = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)

    bw = _BitWriter()
    preds = [0, 0, 0]
    n_mcu_y = yplane.shape[0] // mcu_h
    n_mcu_x = yplane.shape[1] // mcu_w
    cb_w = cbp.shape[1] // 8
    entropy = bytearray()
    mcu_count = 0
    rst = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += bw.flush()
                entropy += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0, 0, 0]
            for by in range(vs):
                for bx in range(hs):
                    bi = (my * vs + by) * yblocks_w + (mx * hs + bx)
                    preds[0] = _encode_block(bw, yzz[bi], preds[0], dc_l, ac_l)
            ci = my * cb_w + mx
            preds[1] = _encode_block(bw, cbzz[ci], preds[1], dc_c, ac_c)
            preds[2] = _encode_block(bw, crzz[ci], preds[2], dc_c, ac_c)
            mcu_count += 1
    entropy += bw.flush()
    entropy = bytes(entropy)

    def dqt(tid: int, tab: np.ndarray) -> bytes:
        return _seg(0xDB, bytes([tid]) + bytes(int(v) for v in tab.reshape(64)[ZIGZAG]))

    def dht(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return _seg(0xC4, bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals))

    app0 = _seg(0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + (1).to_bytes(2, "big") * 2 + b"\x00\x00")
    sof = _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
        + bytes([1, (hs << 4) | vs, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dri = _seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    return (
        b"\xff\xd8" + app0 + dqt(0, qlum) + dqt(1, qchrom)
        + dht(0, 0, DC_LUM_BITS, DC_LUM_VALS) + dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
        + dht(0, 1, DC_CHROM_BITS, DC_CHROM_VALS) + dht(1, 1, AC_CHROM_BITS, AC_CHROM_VALS)
        + dri + sof + sos + entropy + b"\xff\xd9"
    )


def encode_jpeg_gray(pixels: np.ndarray, quality: int = 100) -> bytes:
    """(h, w) uint8 grayscale -> 1-component baseline JFIF JPEG.
    Decodes everywhere (including decode_jpeg's grayscale branch,
    which replicates to RGB for the pipeline's schema)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 2:
        raise ValueError("pixels must be (h, w) uint8")
    h, w = pixels.shape
    qlum, _ = quality_tables(quality)
    plane = _pad_to(pixels.astype(np.float64) - 128.0, 8, 8)
    zz = _quantize_zigzag(_blocks_of(plane), qlum)
    dc_l = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    bw = _BitWriter()
    pred = 0
    for bi in range(zz.shape[0]):
        pred = _encode_block(bw, zz[bi], pred, dc_l, ac_l)
    app0 = _seg(0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + (1).to_bytes(2, "big") * 2 + b"\x00\x00")
    dqt = _seg(0xDB, bytes([0]) + bytes(int(v) for v in qlum.reshape(64)[ZIGZAG]))
    sof = _seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    dht0 = _seg(0xC4, bytes([0x00]) + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
    dht1 = _seg(0xC4, bytes([0x10]) + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + app0 + dqt + dht0 + dht1 + sof + sos + bw.flush() + b"\xff\xd9"


# ---------------------------------------------------------------- decoder

class _HuffLookup:
    """16-bit-peek canonical Huffman lookup (T.81 Annex C codes):
    table[next 16 bits] = (symbol, code_length)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.sym = np.zeros(1 << 16, dtype=np.int16)
        self.len = np.zeros(1 << 16, dtype=np.int8)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = (code + 1) << (16 - length)
                self.sym[lo:hi] = vals[k]
                self.len[lo:hi] = length
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first reader over an unstuffed entropy segment."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 48:
            if self.pos < len(self.data):
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8  # zero-pad past the end (T.81 tolerates)
            self.nbits += 8

    def symbol(self, lk: _HuffLookup) -> int:
        """One Huffman-coded symbol."""
        if self.nbits < 16:
            self._fill()
        peek = (self.acc >> (self.nbits - 16)) & 0xFFFF
        ln = int(lk.len[peek])
        if ln == 0:
            raise ValueError("invalid JPEG: bad Huffman code")
        self.nbits -= ln
        self.acc &= (1 << self.nbits) - 1
        return int(lk.sym[peek])

    def take(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map s received bits to the signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, str, np.ndarray]:
    """JPEG bytes -> (w, h, 'jpeg', (h, w, 3) uint8 RGB).

    Every layout decodes the same way: the marker walk collects each
    scan with the DHT tables and restart interval in force at its SOS,
    and at EOI :func:`decode_scans` runs them through the T.81 Annex G
    scan decoder (a sequential scan is its Ss=0, Se=63, Ah=Al=0 case,
    whatever its SOS header says, as in libjpeg) before
    :func:`_reconstruct`. Handles SOF0/SOF1 sequential files (one
    interleaved scan or one scan per component) and SOF2
    progressive ones, 8- and 16-bit DQT, several tables per DHT
    segment, DRI/RSTn restart intervals, 0xFF fill bytes before any
    marker (T.81 B.1.1.2), sampling factors 1-2 per axis, and 1- or
    3-component frames. Raises NotImplementedError for other component
    counts and for arithmetic coding, lossless and hierarchical modes."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffLookup] = {}
    restart_interval = 0
    frame = None
    scans: list[dict] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte: the marker starts at the next 0xFF
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            continue  # standalone
        ln = int.from_bytes(data[pos : pos + 2], "big")
        body = data[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tid = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq:
                    vals = np.frombuffer(body[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    vals = np.frombuffer(body[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                tab = np.empty(64, dtype=np.int32)
                tab[ZIGZAG] = vals  # stored in zigzag order
                qtabs[tid] = tab.reshape(8, 8)
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tclass, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(tclass, tid)] = _HuffLookup(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 sequential, SOF2 progressive
            prec = body[0]
            if prec != 8:
                raise NotImplementedError(f"JPEG sample precision {prec} (8 only)")
            nf = body[5]
            if nf not in (1, 3):
                raise NotImplementedError(f"{nf}-component JPEG (1 or 3 only)")
            comps = []
            for c in range(nf):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
            frame = {
                "h": int.from_bytes(body[1:3], "big"),
                "w": int.from_bytes(body[3:5], "big"),
                "comps": comps,
                "progressive": marker == 0xC2,
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} (arithmetic/lossless/"
                "hierarchical) — baseline sequential + progressive only"
            )
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                scan.append({"id": cs, "dc": tables >> 4, "ac": tables & 0xF})
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            if not frame["progressive"]:
                # a sequential scan is always Ss=0, Se=63, Ah=Al=0; like
                # libjpeg, ignore the header, which some baseline
                # encoders fill with zeroes
                ss, se, ahal = 0, 63, 0
            # the entropy data runs to the next marker that is neither
            # RSTn nor a fill byte
            end = pos
            while end < len(data) - 1:
                nxt = data[end + 1]
                if data[end] == 0xFF and nxt not in (0x00, 0xFF) and not 0xD0 <= nxt <= 0xD7:
                    break
                end += 1
            scans.append(
                {
                    "comps": scan,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0xF,
                    "huff": dict(huff),
                    "restart_interval": restart_interval,
                    "entropy": data[pos:end],
                }
            )
            pos = end
    if not scans:
        raise ValueError("JPEG truncated: no SOS scan found")
    return _reconstruct(frame, decode_scans(frame, scans), qtabs)


def _split_restarts(entropy: bytes) -> list[bytes]:
    """Split an entropy segment on RST0-7 markers (predictors and EOB
    runs reset at each boundary)."""
    segments = []
    i = 0
    start = 0
    while i < len(entropy) - 1:
        if entropy[i] == 0xFF and 0xD0 <= entropy[i + 1] <= 0xD7:
            segments.append(entropy[start:i])
            start = i + 2
            i += 2
        else:
            i += 1
    segments.append(entropy[start:])
    return segments


def _geometry(frame) -> dict:
    """Shared block-grid geometry: the coefficient planes are stored
    MCU-grid padded (stride n_mcu_x * h blocks per row), but
    NON-interleaved scans cover only ceil(comp_dim / 8) blocks
    (T.81 A.2.2) — the padded tail blocks exist only for interleaved
    traversal."""
    fh, fw, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mcu_x = -(-fw // (8 * hmax))
    n_mcu_y = -(-fh // (8 * vmax))
    geo = {}
    for c in comps:
        cw = -(-fw * c["h"] // hmax)  # ceil(fw * h / hmax)
        ch_ = -(-fh * c["v"] // vmax)
        geo[c["id"]] = {
            "stride": n_mcu_x * c["h"],          # plane row stride (blocks)
            "rows": n_mcu_y * c["v"],            # plane rows (blocks)
            "bw": -(-cw // 8),                   # real block cols (scan area)
            "bh": -(-ch_ // 8),                  # real block rows
            "h": c["h"],
            "v": c["v"],
        }
    return {"n_mcu_x": n_mcu_x, "n_mcu_y": n_mcu_y, "hmax": hmax, "vmax": vmax, "comps": geo}


def _scan_units(frame, scan_comps: list[dict], geo) -> list[list[tuple[int, int]]]:
    """The scan's decode/encode unit sequence: each unit is a list of
    (component id, plane block index). Interleaved scans (>1
    component) take one MCU per unit; single-component scans take one
    block per unit in raster order over the REAL block grid."""
    if len(scan_comps) == 1:
        cid = scan_comps[0]["id"]
        g = geo["comps"][cid]
        return [
            [(cid, r * g["stride"] + c)]
            for r in range(g["bh"])
            for c in range(g["bw"])
        ]
    if len(scan_comps) != len(frame["comps"]):
        raise NotImplementedError(
            "JPEG scan interleaving a strict subset of the frame's "
            "components (spec-legal but unseen in practice)"
        )
    units = []
    for my in range(geo["n_mcu_y"]):
        for mx in range(geo["n_mcu_x"]):
            unit = []
            for sc in scan_comps:
                g = geo["comps"][sc["id"]]
                for by in range(g["v"]):
                    for bx in range(g["h"]):
                        unit.append(
                            (sc["id"], (my * g["v"] + by) * g["stride"] + mx * g["h"] + bx)
                        )
            units.append(unit)
    return units


def decode_scans(frame, scans: list[dict]) -> dict[int, np.ndarray]:
    """Accumulate every scan of a JPEG into per-component (n_blocks,
    64) int32 zigzag coefficient planes."""
    geo = _geometry(frame)
    planes = {
        cid: np.zeros((g["rows"] * g["stride"], 64), dtype=np.int32)
        for cid, g in geo["comps"].items()
    }
    for sc in scans:
        _decode_one_scan(frame, sc, geo, planes)
    return planes


def _decode_one_scan(frame, sc, geo, planes) -> None:
    ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
    units = _scan_units(frame, sc["comps"], geo)
    huff = sc["huff"]
    # per component (DC table, AC table); a scan may name a table it
    # never uses and that was never defined
    tables = {c["id"]: (huff.get((0, c["dc"])), huff.get((1, c["ac"]))) for c in sc["comps"]}
    ri = sc["restart_interval"]
    segments = _split_restarts(sc["entropy"]) if ri else [sc["entropy"]]
    if ss > 0 and len(sc["comps"]) != 1:
        raise ValueError("progressive AC scan must cover exactly one component")

    seg_idx = 0
    br = _BitReader(segments[0].replace(b"\xff\x00", b"\xff"))
    preds = {c["id"]: 0 for c in sc["comps"]}
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def correct(zz: np.ndarray, k: int) -> None:
        # refinement correction bit (T.81 G.1.2.3 decode mirror): a 1
        # bit moves the partial value one quantum AWAY from zero; the
        # quantum-already-present guard tolerates pathological streams
        if br.take(1) and (int(zz[k]) & p1) == 0:
            zz[k] += p1 if zz[k] > 0 else m1

    for u_idx, unit in enumerate(units):
        if ri and u_idx and u_idx % ri == 0:
            seg_idx += 1
            br = _BitReader(segments[seg_idx].replace(b"\xff\x00", b"\xff"))
            preds = {c["id"]: 0 for c in sc["comps"]}
            eobrun = 0
        for cid, bi in unit:
            zz = planes[cid][bi]
            if ss == 0:
                if ah == 0:  # DC first: Huffman diff at reduced precision
                    s = br.symbol(tables[cid][0])
                    diff = _extend(br.take(s), s) if s else 0
                    preds[cid] += diff
                    zz[0] = preds[cid] << al
                else:  # DC refinement: one raw bit (two's complement append)
                    zz[0] = int(zz[0]) | (br.take(1) << al)
                if se == 0:
                    continue
            # AC band (progressive AC scan, or the 1..63 tail of a
            # sequential scan's block, where ss==0, se==63)
            act = tables[cid][1]
            lo = max(ss, 1)
            if ah == 0:
                if eobrun:
                    eobrun -= 1
                    continue
                k = lo
                while k <= se:
                    sym = br.symbol(act)
                    r, s = sym >> 4, sym & 0xF
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.take(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("invalid JPEG: AC run past band end")
                    zz[k] = _extend(br.take(s), s) << al
                    k += 1
            else:
                # AC refinement (T.81 G.2 / figure G.7 semantics)
                if eobrun:
                    for k in range(lo, se + 1):
                        if zz[k]:
                            correct(zz, k)
                    eobrun -= 1
                    continue
                k = lo
                while k <= se:
                    sym = br.symbol(act)
                    r, s = sym >> 4, sym & 0xF
                    val = 0
                    if s == 0:
                        if r != 15:  # EOBn: run of end-of-band blocks
                            eobrun = (1 << r) + (br.take(r) if r else 0)
                            break
                        # r == 15: ZRL skips 16 zero-HISTORY positions
                    else:
                        if s != 1:
                            raise ValueError(
                                "invalid JPEG: refinement magnitude > 1"
                            )
                        val = p1 if br.take(1) else m1
                    # advance over already-nonzero coefficients (one
                    # correction bit each) and r still-zero ones
                    while k <= se:
                        if zz[k]:
                            correct(zz, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError(
                                "invalid JPEG: refinement coefficient past band"
                            )
                        zz[k] = val
                    k += 1
                else:
                    continue
                # EOBn hit mid-block: correction bits for the rest of
                # THIS block's band, then the run covers later blocks
                for kk in range(k, se + 1):
                    if zz[kk]:
                        correct(zz, kk)
                eobrun -= 1


def _reconstruct(frame, planes: dict, qtabs: dict) -> tuple[int, int, str, np.ndarray]:
    """Decode tail: per-component (n_blocks, 64) int32 zigzag
    coefficient planes on the :func:`_geometry` grid -> dequantize +
    inverse zigzag + batched IDCT + chroma upsample + color transform."""
    fh, fw = frame["h"], frame["w"]
    geo = _geometry(frame)
    out_planes = []
    for c in frame["comps"]:
        g = geo["comps"][c["id"]]
        coeffs = planes[c["id"]][:, UNZIGZAG].reshape(-1, 8, 8).astype(np.float64) * qtabs[c["tq"]]
        spat = np.einsum("ji,njk,kl->nil", DCT_M, coeffs, DCT_M) + 128.0
        rows, stride = g["rows"], g["stride"]
        plane = spat.reshape(rows, stride, 8, 8).transpose(0, 2, 1, 3).reshape(rows * 8, stride * 8)
        # upsample to full MCU-grid resolution, then crop to frame
        ry, rx = geo["vmax"] // c["v"], geo["hmax"] // c["h"]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        out_planes.append(plane[:fh, :fw])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return fw, fh, "jpeg", np.repeat(g[:, :, None], 3, axis=2)
    return fw, fh, "jpeg", ycbcr_to_rgb(np.stack(out_planes, axis=-1))
