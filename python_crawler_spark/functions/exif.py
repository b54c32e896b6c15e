"""EXIF (TIFF 6.0 / CIPA DC-008) metadata codec in pure stdlib.

The reference pipeline re-hosts crawled images verbatim
(weixin_public.py:310-373) — production curation additionally reads
camera metadata (orientation, capture time, true pixel dims) before
training on images, and must APPLY the orientation or 3/8 of phone
photos train sideways. This module implements the container math from
the public specs only:

- ``parse_exif``: walk a TIFF byte stream (either endianness), IFD0 ->
  IFD1 chain plus the Exif and GPS sub-IFDs, all twelve TIFF field
  types, inline-vs-offset values, bounds-checked and loop-guarded.
- ``build_exif``: emit a valid TIFF stream (IFD0 + Exif sub-IFD) for a
  field dict — used by the synthetic web so the e2e crawl exercises
  the parser on every JPEG.
- ``insert_exif_jpeg`` / ``extract_exif_jpeg``: APP1 segment splice /
  marker-walk extraction.
- ``apply_orientation``: the 8 EXIF orientations as numpy views.

Fail-loud discipline: malformed streams raise ValueError (truncated
header, bad magic, out-of-bounds offsets, IFD cycles) rather than
returning partial dicts.
"""

from __future__ import annotations

import struct

import numpy as np

EXIF_HEADER = b"Exif\x00\x00"

# (name, tag) for the tags the builder emits and the parser names;
# anything else parses under its numeric tag.
TAG_NAMES = {
    0x010E: "ImageDescription",
    0x010F: "Make",
    0x0110: "Model",
    0x0112: "Orientation",
    0x011A: "XResolution",
    0x011B: "YResolution",
    0x0128: "ResolutionUnit",
    0x0131: "Software",
    0x0132: "DateTime",
    0x8769: "ExifIFDPointer",
    0x8825: "GPSIFDPointer",
    0x829A: "ExposureTime",
    0x829D: "FNumber",
    0x8827: "ISOSpeedRatings",
    0x9003: "DateTimeOriginal",
    0x9004: "DateTimeDigitized",
    0xA002: "PixelXDimension",
    0xA003: "PixelYDimension",
    0x0001: "GPSLatitudeRef",
    0x0002: "GPSLatitude",
    0x0003: "GPSLongitudeRef",
    0x0004: "GPSLongitude",
}
_NAME_TO_TAG = {v: k for k, v in TAG_NAMES.items()}

# TIFF type id -> (struct code or None, element size)
_TYPES = {
    1: ("B", 1),  # BYTE
    2: (None, 1),  # ASCII
    3: ("H", 2),  # SHORT
    4: ("I", 4),  # LONG
    5: (None, 8),  # RATIONAL (2x LONG)
    6: ("b", 1),  # SBYTE
    7: (None, 1),  # UNDEFINED
    8: ("h", 2),  # SSHORT
    9: ("i", 4),  # SLONG
    10: (None, 8),  # SRATIONAL (2x SLONG)
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}

_MAX_IFDS = 64  # cycle/bomb guard: a real file has 2-4


def _decode_values(data: bytes, endian: str, typ: int, count: int, raw: bytes):
    code, size = _TYPES[typ]
    if typ == 2:  # ASCII: NUL-terminated string
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == 7:  # UNDEFINED: opaque bytes
        return raw
    if typ in (5, 10):
        sub = "I" if typ == 5 else "i"
        pairs = struct.unpack(f"{endian}{2 * count}{sub}", raw)
        vals = [(pairs[2 * i], pairs[2 * i + 1]) for i in range(count)]
    else:
        vals = list(struct.unpack(f"{endian}{count}{code}", raw))
    return vals[0] if count == 1 else vals


def _parse_ifd(data: bytes, endian: str, off: int, out: dict, seen: set) -> int:
    """Parse one IFD at ``off`` into ``out``; returns next-IFD offset."""
    if off in seen:
        raise ValueError(f"EXIF IFD cycle at offset {off}")
    seen.add(off)
    if len(seen) > _MAX_IFDS:
        raise ValueError("EXIF IFD chain too long")
    if off + 2 > len(data):
        raise ValueError(f"EXIF IFD offset {off} out of bounds")
    (n,) = struct.unpack_from(f"{endian}H", data, off)
    end = off + 2 + 12 * n + 4
    if end > len(data):
        raise ValueError(f"EXIF IFD at {off} truncated ({n} entries)")
    for i in range(n):
        tag, typ, count = struct.unpack_from(f"{endian}HHI", data, off + 2 + 12 * i)
        if typ not in _TYPES:
            continue  # per TIFF 6.0 readers skip unknown field types
        nbytes = _TYPES[typ][1] * count
        vpos = off + 2 + 12 * i + 8
        if nbytes <= 4:
            raw = data[vpos : vpos + nbytes]
        else:
            (voff,) = struct.unpack_from(f"{endian}I", data, vpos)
            if voff + nbytes > len(data):
                raise ValueError(f"EXIF tag 0x{tag:04X} value offset out of bounds")
            raw = data[voff : voff + nbytes]
        val = _decode_values(data, endian, typ, count, raw)
        if tag == 0x8769:
            sub: dict = {}
            _parse_ifd(data, endian, int(val), sub, seen)
            out["Exif"] = sub
        elif tag == 0x8825:
            sub = {}
            _parse_ifd(data, endian, int(val), sub, seen)
            out["GPS"] = sub
        else:
            out[TAG_NAMES.get(tag, tag)] = val
    (nxt,) = struct.unpack_from(f"{endian}I", data, off + 2 + 12 * n)
    return nxt


def parse_exif(payload: bytes) -> dict:
    """TIFF/EXIF bytes -> nested dict (IFD0 fields at the top level,
    sub-IFDs under 'Exif'/'GPS', the thumbnail IFD1 under 'IFD1').
    Accepts the payload with or without the APP1 ``Exif\\0\\0`` prefix."""
    if payload[:6] == EXIF_HEADER:
        payload = payload[6:]
    if len(payload) < 8:
        raise ValueError("EXIF TIFF header truncated")
    if payload[:2] == b"II":
        endian = "<"
    elif payload[:2] == b"MM":
        endian = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {payload[:2]!r}")
    (magic,) = struct.unpack_from(f"{endian}H", payload, 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic} (want 42)")
    (ifd0,) = struct.unpack_from(f"{endian}I", payload, 4)
    out: dict = {}
    seen: set = set()
    nxt = _parse_ifd(payload, endian, ifd0, out, seen)
    if nxt:
        ifd1: dict = {}
        _parse_ifd(payload, endian, nxt, ifd1, seen)
        out["IFD1"] = ifd1
    return out


def _encode_field(endian: str, tag: int, value):
    """-> (tag, type, count, payload_bytes) choosing the natural TIFF
    type for the python value."""
    if isinstance(value, str):
        raw = value.encode("ascii") + b"\x00"
        return tag, 2, len(raw), raw
    if isinstance(value, bytes):
        return tag, 7, len(value), value
    if isinstance(value, tuple):  # single RATIONAL
        return tag, 5, 1, struct.pack(f"{endian}II", *value)
    if isinstance(value, list):  # list of RATIONALs (GPS coords)
        raw = b"".join(struct.pack(f"{endian}II", *v) for v in value)
        return tag, 5, len(value), raw
    v = int(value)
    if 0 <= v < 2**16:
        return tag, 3, 1, struct.pack(f"{endian}H", v)
    return tag, 4, 1, struct.pack(f"{endian}I", v)


def _assemble_ifd(endian: str, fields, ifd_off: int, heap_off: int):
    """-> (ifd_bytes_without_heap, heap_bytes). Offsets into the heap
    are assigned from ``heap_off``."""
    entries = sorted(fields, key=lambda e: e[0])  # TIFF requires tag order
    heap = bytearray()
    body = struct.pack(f"{endian}H", len(entries))
    for tag, typ, count, raw in entries:
        body += struct.pack(f"{endian}HHI", tag, typ, count)
        if len(raw) <= 4:
            body += raw + b"\x00" * (4 - len(raw))
        else:
            if len(heap) % 2:  # TIFF values are word-aligned
                heap += b"\x00"
            body += struct.pack(f"{endian}I", heap_off + len(heap))
            heap += raw
    body += struct.pack(f"{endian}I", 0)  # no next IFD
    return body, bytes(heap)


def build_exif(fields: dict, byte_order: str = "<") -> bytes:
    """Field dict -> TIFF/EXIF bytes (no APP1 prefix). Top-level keys
    go to IFD0; nested dicts under 'Exif'/'GPS' go to the Exif/GPS
    sub-IFDs (pointer tags 0x8769/0x8825 are emitted automatically).
    Keys are tag names from TAG_NAMES or raw ints; values map to TIFF
    types by python type (str->ASCII, int->SHORT/LONG, (n,d)->RATIONAL,
    [(n,d),...]->RATIONAL array, bytes->UNDEFINED)."""
    endian = byte_order
    if endian not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    exif_fields = fields.get("Exif") or {}
    gps_fields = fields.get("GPS") or {}

    def enc(d: dict):
        return [
            _encode_field(endian, _NAME_TO_TAG.get(k, k) if isinstance(k, str) else k, v)
            for k, v in d.items()
            if k not in ("Exif", "GPS")
        ]

    f0 = enc(fields)
    f1 = enc(exif_fields)
    f2 = enc(gps_fields)
    ifd0_off = 8
    # IFD0 gains a pointer entry per sub-IFD present
    n0 = len(f0) + (1 if f1 else 0) + (1 if f2 else 0)
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = ifd0_off + ifd0_size
    exif_size = (2 + 12 * len(f1) + 4) if f1 else 0
    gps_off = exif_off + exif_size
    gps_size = (2 + 12 * len(f2) + 4) if f2 else 0
    heap_off = gps_off + gps_size
    if f1:
        f0 = f0 + [(0x8769, 4, 1, struct.pack(f"{endian}I", exif_off))]
    if f2:
        f0 = f0 + [(0x8825, 4, 1, struct.pack(f"{endian}I", gps_off))]
    # sequential heaps: heap0, then heap1, then heap2
    body0, heap0 = _assemble_ifd(endian, f0, ifd0_off, heap_off)
    body1, heap1 = (b"", b"")
    if f1:
        body1, heap1 = _assemble_ifd(endian, f1, exif_off, heap_off + len(heap0))
    body2, heap2 = (b"", b"")
    if f2:
        body2, heap2 = _assemble_ifd(
            endian, f2, gps_off, heap_off + len(heap0) + len(heap1)
        )
    header = (b"II" if endian == "<" else b"MM") + struct.pack(f"{endian}HI", 42, 8)
    return header + body0 + body1 + body2 + heap0 + heap1 + heap2


# ------------------------------------------------------------ JPEG splice


def insert_exif_jpeg(jpeg: bytes, tiff_payload: bytes) -> bytes:
    """Splice an APP1 Exif segment into a JPEG, after SOI and any APP0
    (the position CIPA DC-008 prescribes)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    if jpeg[pos : pos + 2] == b"\xff\xe0":  # keep JFIF APP0 first
        pos += 2 + int.from_bytes(jpeg[pos + 2 : pos + 4], "big")
    body = EXIF_HEADER + tiff_payload
    if len(body) + 2 > 0xFFFF:
        raise ValueError("EXIF payload exceeds APP1 segment capacity")
    seg = b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body
    return jpeg[:pos] + seg + jpeg[pos:]


def remove_exif_jpeg(jpeg: bytes) -> bytes:
    """Drop the APP1 Exif segment from a JPEG (no-op when absent).
    Pixel data and every other segment are byte-preserved — the
    inverse of :func:`insert_exif_jpeg`."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    while pos + 4 <= len(jpeg) and jpeg[pos] == 0xFF:
        marker = jpeg[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: metadata zone over
            break
        ln = int.from_bytes(jpeg[pos + 2 : pos + 4], "big")
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == EXIF_HEADER:
            return jpeg[:pos] + jpeg[pos + 2 + ln :]
        pos += 2 + ln
    return jpeg


def strip_gps(fields: dict) -> tuple[dict, bool]:
    """(fields without the GPS sub-IFD or its pointer, had_gps). Pure
    dict transform over :func:`parse_exif` output, recursing into the
    nested IFDs ('IFD1', 'Exif') where a GPS pointer can also sit; pair
    with :func:`build_exif` to re-emit a scrubbed stream."""
    clean, had = {}, False
    for k, v in fields.items():
        if k in ("GPS", "GPSIFDPointer"):
            had = True
        elif k in ("IFD1", "Exif") and isinstance(v, dict):
            clean[k], nested = strip_gps(v)
            had = had or nested
        else:
            clean[k] = v
    return clean, had


def extract_exif_jpeg(jpeg: bytes) -> bytes | None:
    """Marker-walk a JPEG for the APP1 Exif segment; returns the TIFF
    payload (without the ``Exif\\0\\0`` prefix) or None."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    while pos + 4 <= len(jpeg) and jpeg[pos] == 0xFF:
        marker = jpeg[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: metadata zone over
            break
        ln = int.from_bytes(jpeg[pos + 2 : pos + 4], "big")
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == EXIF_HEADER:
            return jpeg[pos + 10 : pos + 2 + ln]
        pos += 2 + ln
    return None


# ---------------------------------------------------------- orientation


def apply_orientation(px: np.ndarray, orientation: int) -> np.ndarray:
    """Upright-transform pixels per the EXIF orientation tag (1-8).
    Views where possible; copies only on transpose."""
    if orientation == 1:
        return px
    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    t = np.swapaxes(px, 0, 1)
    if orientation == 5:  # transpose
        return t
    if orientation == 6:  # rotate 90 CW to upright
        return t[:, ::-1]
    if orientation == 7:  # transverse
        return t[::-1, ::-1]
    if orientation == 8:  # rotate 90 CCW to upright
        return t[::-1, :]
    raise ValueError(f"EXIF orientation {orientation} out of range 1-8")
