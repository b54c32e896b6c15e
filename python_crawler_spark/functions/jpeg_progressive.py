"""Progressive (SOF2) and multi-scan JPEG encoders — pure numpy +
stdlib, public ITU T.81 spec.

Progressive JPEGs are the dominant large-image layout on the real web
— exactly what a crawler's image pipeline meets. functions/jpeg.py
owns the one decoder for every layout; the encoders here produce
spec-exercising test vectors for it (this container has no
PIL/libjpeg to make them for us), walking the same block grid and
scan units (``jpeg._geometry`` / ``jpeg._scan_units``) the decoder
walks.

Everything derives from ITU-T T.81 / ISO 10918-1 Annex G (progressive
DCT mode):

- **Spectral selection**: each scan carries a zigzag band [Ss, Se]; DC
  (Ss=0) scans may interleave all components, AC scans are one
  component each, traversed over THAT component's block grid.
- **Successive approximation**: the first scan of a coefficient sends
  it at reduced precision (point transform by Al: arithmetic shift for
  DC, sign-magnitude shift for AC, G.1.2.1/G.1.2.2); each refinement
  scan (Ah = Al+1) appends exactly one bit per coefficient.
- **EOBRUN** (G.1.2.2): runs of end-of-band blocks compress to one
  EOBn symbol (n = run-length category) with appended bits; in
  refinement scans the correction bits of coefficients inside the run
  are buffered and emitted right after the EOBn code (G.1.2.3).
- **Per-scan Huffman tables**: built with the Annex K.2 two-pass
  frequency procedure (collect symbol counts, pair-merge, fold code
  lengths > 16) — the standard AC tables have no EOBn>0 symbols, so
  progressive scans need custom tables, exactly as real encoders ship.

A progressive file decodes bit-identical to the baseline encoding of
the same quantized coefficients (the scans are a lossless re-ordering
of the same data), which is what tests/test_jpeg_progressive.py
asserts.

Reference analog: the reference re-hosts real JPEG bytes from
mp.weixin.qq.com (/root/reference/crawler/weixin_public.py:315-321);
a production crawl of that CDN sees progressive files constantly.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (
    AC_CHROM_BITS,
    AC_CHROM_VALS,
    AC_LUM_BITS,
    AC_LUM_VALS,
    DC_CHROM_BITS,
    DC_CHROM_VALS,
    DC_LUM_BITS,
    DC_LUM_VALS,
    ZIGZAG,
    _BitWriter,
    _blocks_of,
    _canonical_codes,
    _geometry,
    _mag_category,
    _pad_to,
    _quantize_zigzag,
    _scan_units,
    _seg,
    quality_tables,
    rgb_to_ycbcr,
)

_MAX_EOBRUN = 0x7FFF  # largest encodable EOB run (EOB14 + 14 bits)


# ---------------------------------------------------------------- encoder

class _FreqSink:
    """Pass-1 sink: count Huffman symbol frequencies per table key."""

    def __init__(self) -> None:
        self.freq: dict[tuple[int, int], dict[int, int]] = {}

    def sym(self, tkey: tuple[int, int], s: int) -> None:
        self.freq.setdefault(tkey, {})[s] = self.freq.get(tkey, {}).get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass

    def restart(self) -> None:
        pass


class _WriteSink:
    """Pass-2 sink: real entropy bytes with RSTn markers between
    restart segments."""

    def __init__(self, codes: dict[tuple[int, int], dict[int, tuple[int, int]]]):
        self.codes = codes
        self.bw = _BitWriter()
        self.out = bytearray()
        self.rst = 0

    def sym(self, tkey: tuple[int, int], s: int) -> None:
        code, ln = self.codes[tkey][s]
        self.bw.put(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.bw.put(v, n)

    def restart(self) -> None:
        self.out += self.bw.flush()
        self.out += bytes([0xFF, 0xD0 + self.rst])
        self.rst = (self.rst + 1) % 8
        self.bw = _BitWriter()

    def finish(self) -> bytes:
        self.out += self.bw.flush()
        return bytes(self.out)


def _build_huffman(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """T.81 Annex K.2: optimal length-limited (<=16) Huffman table from
    symbol frequencies -> (BITS[16], HUFFVAL). Symbol 256 is reserved
    with count 1 so no real symbol gets the all-ones code."""
    f = [0] * 257
    for s, c in freq.items():
        f[s] = c
    f[256] = 1
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        nz = [(c, -v) for v, c in enumerate(f) if c > 0]
        if len(nz) < 2:
            break
        c1, nv1 = min(nz)
        v1 = -nv1
        c2, nv2 = min((c, nv) for c, nv in nz if -nv != v1)
        v2 = -nv2
        f[v1] = c1 + c2
        f[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for v in range(257):
        if codesize[v]:
            bits[codesize[v]] += 1
    # fold lengths > 16 down (K.2 figure K.3)
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # drop the reserved symbol from the longest used length
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    vals = sorted(
        (v for v in range(256) if codesize[v]), key=lambda v: (codesize[v], v)
    )
    return bits[1:17], vals


def _encode_scan(
    sink,
    scan: dict,
    zz_by_id: dict[int, np.ndarray],
    units: list[list[tuple[int, int]]],
    restart_interval: int,
    sequential: bool,
) -> None:
    """Entropy-encode one scan through a sink (frequency pass or write
    pass — both see the identical symbol/bit sequence)."""
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    tables = {c["id"]: (c["dc"], c["ac"]) for c in scan["comps"]}
    preds = {c["id"]: 0 for c in scan["comps"]}
    state = {"eobrun": 0, "pending": []}

    def flush_eobrun() -> None:
        n = state["eobrun"]
        if n:
            cid0 = scan["comps"][0]["id"]
            tkey = (1, tables[cid0][1])
            r = n.bit_length() - 1
            sink.sym(tkey, r << 4)
            sink.bits(n - (1 << r), r)
            for b in state["pending"]:
                sink.bits(b, 1)
            state["eobrun"] = 0
            state["pending"] = []

    for u_idx, unit in enumerate(units):
        if restart_interval and u_idx and u_idx % restart_interval == 0:
            flush_eobrun()
            sink.restart()
            preds = {c["id"]: 0 for c in scan["comps"]}
        for cid, bi in unit:
            zz = zz_by_id[cid][bi]
            if ss == 0:
                if ah == 0:
                    dc = int(zz[0]) >> al  # arithmetic shift (G.1.2.1)
                    diff = dc - preds[cid]
                    preds[cid] = dc
                    s = _mag_category(diff)
                    sink.sym((0, tables[cid][0]), s)
                    if s:
                        sink.bits(diff if diff > 0 else diff + (1 << s) - 1, s)
                else:
                    sink.bits((int(zz[0]) >> al) & 1, 1)
                if se == 0:
                    continue
            tkey = (1, tables[cid][1])
            lo = max(ss, 1)
            band = [int(v) for v in zz[lo : se + 1]]
            if ah == 0:
                # first AC pass: point transform is sign-magnitude >> al
                vals = [(v >> al) if v >= 0 else -((-v) >> al) for v in band]
                nzi = [i for i, v in enumerate(vals) if v]
                if not nzi:
                    state["eobrun"] += 1
                    if state["eobrun"] == _MAX_EOBRUN or sequential:
                        flush_eobrun()
                    continue
                flush_eobrun()
                prev = 0
                for i in nzi:
                    run = i - prev
                    prev = i + 1
                    while run >= 16:
                        sink.sym(tkey, 0xF0)
                        run -= 16
                    v = vals[i]
                    s = _mag_category(v)
                    sink.sym(tkey, (run << 4) | s)
                    sink.bits(v if v > 0 else v + (1 << s) - 1, s)
                if prev != len(band):
                    state["eobrun"] += 1
                    if state["eobrun"] == _MAX_EOBRUN or sequential:
                        flush_eobrun()
            else:
                # AC refinement pass (T.81 G.1.2.3): newly-significant
                # coefficients get a (run, 1) symbol + sign; coefficients
                # already significant get one buffered correction bit,
                # emitted after the symbol (or EOBn) that passes them
                absvals = [(abs(v) >> al) for v in band]
                k_last = -1
                for i, a in enumerate(absvals):
                    if a == 1:
                        k_last = i
                r = 0
                cur: list[int] = []
                for i, a in enumerate(absvals):
                    if a == 0:
                        r += 1
                        continue
                    if i <= k_last:
                        # ZRLs cannot fold into the EOB run
                        while r > 15:
                            flush_eobrun()
                            sink.sym(tkey, 0xF0)
                            r -= 16
                            for b in cur:
                                sink.bits(b, 1)
                            cur = []
                    if a > 1:
                        cur.append(a & 1)
                        continue
                    flush_eobrun()
                    sink.sym(tkey, (r << 4) | 1)
                    sink.bits(1 if band[i] > 0 else 0, 1)
                    for b in cur:
                        sink.bits(b, 1)
                    cur = []
                    r = 0
                if k_last < len(band) - 1:
                    state["eobrun"] += 1
                    state["pending"].extend(cur)
                    if state["eobrun"] == _MAX_EOBRUN:
                        flush_eobrun()
    flush_eobrun()


# default scan script: the public libjpeg progression (DC at Al=1 +
# refinement; Y AC in two spectral bands through Al 2->1->0; chroma AC
# through Al 1->0) — exercises every Annex-G code path
_DEFAULT_SCRIPT = [
    ((1, 2, 3), 0, 0, 0, 1),
    ((1,), 1, 5, 0, 2),
    ((3,), 1, 63, 0, 1),
    ((2,), 1, 63, 0, 1),
    ((1,), 6, 63, 0, 2),
    ((1,), 1, 63, 2, 1),
    ((1, 2, 3), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((3,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
]
_GRAY_SCRIPT = [
    ((1,), 0, 0, 0, 1),
    ((1,), 1, 5, 0, 2),
    ((1,), 6, 63, 0, 2),
    ((1,), 1, 63, 2, 1),
    ((1,), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
]


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 100,
    subsample: str = "444",
    restart_interval: int = 0,
    script: list | None = None,
) -> bytes:
    """(h, w, 3) uint8 RGB -> progressive (SOF2) JFIF JPEG bytes.

    Same color/quantization pipeline as jpeg.encode_jpeg, so for a
    given (quality, subsample) the decoded pixels are bit-identical to
    the baseline encoding's — progressive is a lossless reordering of
    the same coefficients. Per-scan optimal Huffman tables are built
    with the Annex K.2 two-pass procedure (the standard tables lack
    EOBn symbols). ``script`` entries are (component_ids, Ss, Se, Ah,
    Al); the default is the public libjpeg progression."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("pixels must be (h, w, 3) uint8")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    h, w = pixels.shape[:2]
    qlum, qchrom = quality_tables(quality)
    ycc = rgb_to_ycbcr(pixels) - 128.0
    if subsample == "444":
        hs = vs = 1
        yplane = _pad_to(ycc[..., 0], 8, 8)
        cplanes = [_pad_to(ycc[..., c], 8, 8) for c in (1, 2)]
    else:
        hs = vs = 2
        yplane = _pad_to(ycc[..., 0], 16, 16)
        cplanes = []
        for c in (1, 2):
            cp = _pad_to(ycc[..., c], 2, 2)
            dn = (cp[0::2, 0::2] + cp[0::2, 1::2] + cp[1::2, 0::2] + cp[1::2, 1::2]) / 4.0
            cplanes.append(_pad_to(dn, 8, 8))
    zz_by_id = {
        1: _quantize_zigzag(_blocks_of(yplane), qlum),
        2: _quantize_zigzag(_blocks_of(cplanes[0]), qchrom),
        3: _quantize_zigzag(_blocks_of(cplanes[1]), qchrom),
    }
    comps = [
        {"id": 1, "h": hs, "v": vs, "tq": 0},
        {"id": 2, "h": 1, "v": 1, "tq": 1},
        {"id": 3, "h": 1, "v": 1, "tq": 1},
    ]
    frame = {"h": h, "w": w, "comps": comps}
    return _assemble(
        frame,
        zz_by_id,
        {0: qlum, 1: qchrom},
        script or _DEFAULT_SCRIPT,
        restart_interval,
        sof_marker=0xC2,
    )


def encode_jpeg_gray_progressive(
    pixels: np.ndarray, quality: int = 100, restart_interval: int = 0
) -> bytes:
    """(h, w) uint8 grayscale -> 1-component progressive JFIF JPEG."""
    if pixels.dtype != np.uint8 or pixels.ndim != 2:
        raise ValueError("pixels must be (h, w) uint8")
    h, w = pixels.shape
    qlum, _ = quality_tables(quality)
    plane = _pad_to(pixels.astype(np.float64) - 128.0, 8, 8)
    zz_by_id = {1: _quantize_zigzag(_blocks_of(plane), qlum)}
    frame = {"h": h, "w": w, "comps": [{"id": 1, "h": 1, "v": 1, "tq": 0}]}
    return _assemble(
        frame, zz_by_id, {0: qlum}, _GRAY_SCRIPT, restart_interval, sof_marker=0xC2
    )


def encode_jpeg_noninterleaved(
    pixels: np.ndarray, quality: int = 100, subsample: str = "444"
) -> bytes:
    """(h, w, 3) uint8 RGB -> SEQUENTIAL baseline JPEG with one full
    scan (Ss=0, Se=63) per component — the multi-scan layout
    decode_jpeg used to reject; some encoders emit it to skip MCU
    interleaving."""
    script = [((1,), 0, 63, 0, 0), ((2,), 0, 63, 0, 0), ((3,), 0, 63, 0, 0)]
    blob = encode_jpeg_progressive(pixels, quality, subsample, 0, script)
    # same scan machinery, sequential framing: SOF0 instead of SOF2
    return _retag_sof(blob, 0xC0)


def _retag_sof(blob: bytes, marker: int) -> bytes:
    i = blob.find(b"\xff\xc2")
    return blob[:i] + bytes([0xFF, marker]) + blob[i + 2 :]


def _assemble(
    frame,
    zz_by_id: dict[int, np.ndarray],
    qtabs: dict[int, np.ndarray],
    script: list,
    restart_interval: int,
    sof_marker: int,
) -> bytes:
    comps = frame["comps"]
    by_id = {c["id"]: c for c in comps}
    geo = _geometry(frame)
    sequential = all(s[1] == 0 and s[2] == 63 for s in script)
    out = bytearray(b"\xff\xd8")
    out += _seg(
        0xE0, b"JFIF\x00" + bytes([1, 1, 0]) + (1).to_bytes(2, "big") * 2 + b"\x00\x00"
    )
    for tid in sorted(qtabs):
        out += _seg(
            0xDB,
            bytes([tid]) + bytes(int(v) for v in qtabs[tid].reshape(64)[ZIGZAG]),
        )
    sof_body = bytes([8]) + frame["h"].to_bytes(2, "big") + frame["w"].to_bytes(2, "big")
    sof_body += bytes([len(comps)])
    for c in comps:
        sof_body += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += _seg(sof_marker, sof_body)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    for cids, ss, se, ah, al in script:
        # table ids by component class: 0 = luma (id 1), 1 = chroma
        scan = {
            "comps": [
                {"id": cid, "dc": 0 if cid == 1 else 1, "ac": 0 if cid == 1 else 1}
                for cid in cids
            ],
            "ss": ss,
            "se": se,
            "ah": ah,
            "al": al,
        }
        units = _scan_units(frame, scan["comps"], geo)
        # pass 1: symbol frequencies -> optimal per-scan tables
        fs = _FreqSink()
        _encode_scan(fs, scan, zz_by_id, units, restart_interval, sequential)
        codes: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for tkey, freq in fs.freq.items():
            bits, vals = _build_huffman(freq)
            out += _seg(
                0xC4,
                bytes([(tkey[0] << 4) | tkey[1]]) + bytes(bits) + bytes(vals),
            )
            codes[tkey] = _canonical_codes(bits, vals)
        # pass 2: real entropy bytes through identical control flow
        ws = _WriteSink(codes)
        _encode_scan(ws, scan, zz_by_id, units, restart_interval, sequential)
        sos = bytes([len(cids)])
        for c in scan["comps"]:
            sos += bytes([c["id"], (c["dc"] << 4) | c["ac"]])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        out += ws.finish()
    out += b"\xff\xd9"
    return bytes(out)
