"""EXIF/TIFF codec (functions/exif.py) and the extract_image_exif
operator: build->parse round trips in both byte orders, JPEG APP1
splice/extract, the 8-orientation algebra, fail-loud malformed input,
and the Spark mapInPandas extraction over synthetic-web blobs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from python_crawler_spark.functions import exif as E
from python_crawler_spark.functions import jpeg as J
from python_crawler_spark.functions.hashing import xxhash64
from python_crawler_spark.operators.multimodal import (
    extract_image_exif,
    fetch_and_decode_images,
    synth_image_blob,
)

FIELDS = {
    "Make": "SynthCam",
    "Model": "SC-7",
    "Orientation": 6,
    "DateTime": "2020:01:02 03:04:05",
    "Exif": {
        "DateTimeOriginal": "2020:01:02 03:04:05",
        "PixelXDimension": 640,
        "PixelYDimension": 480,
        "FNumber": (28, 10),
        "ISOSpeedRatings": 200,
    },
}


@pytest.mark.parametrize("bo", ["<", ">"])
def test_build_parse_round_trip(bo):
    got = E.parse_exif(E.build_exif(FIELDS, bo))
    assert got["Make"] == "SynthCam" and got["Model"] == "SC-7"
    assert got["Orientation"] == 6
    assert got["Exif"]["PixelXDimension"] == 640
    assert got["Exif"]["PixelYDimension"] == 480
    assert got["Exif"]["FNumber"] == (28, 10)  # RATIONAL survives
    assert got["Exif"]["ISOSpeedRatings"] == 200


def test_inline_vs_offset_values():
    """Values <= 4 bytes are inline in the IFD entry; longer ones live
    in the heap behind an offset — both must parse identically."""
    short = E.parse_exif(E.build_exif({"Make": "abc"}))  # 4 bytes with NUL: inline
    long = E.parse_exif(E.build_exif({"Make": "a much longer camera make"}))
    assert short["Make"] == "abc"
    assert long["Make"] == "a much longer camera make"


def test_jpeg_splice_and_extract_preserves_decode():
    px = np.random.RandomState(7).randint(0, 256, (16, 24, 3)).astype(np.uint8)
    jb = J.encode_jpeg(px)
    assert E.extract_exif_jpeg(jb) is None
    jb2 = E.insert_exif_jpeg(jb, E.build_exif(FIELDS))
    tiff = E.extract_exif_jpeg(jb2)
    assert E.parse_exif(tiff)["Model"] == "SC-7"
    # the spliced segment must not perturb the image stream
    _, _, _, dec = J.decode_jpeg(jb)
    w, h, _, dec2 = J.decode_jpeg(jb2)
    assert (w, h) == (24, 16) and (dec == dec2).all()


def test_orientation_algebra():
    a = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert E.apply_orientation(a, 1) is a
    for o in (2, 3, 4, 5, 7):  # self-inverse transforms
        assert (E.apply_orientation(E.apply_orientation(a, o), o) == a).all()
    # 90 CW and 90 CCW are mutual inverses and swap the axes
    assert (E.apply_orientation(E.apply_orientation(a, 6), 8) == a).all()
    assert E.apply_orientation(a, 6).shape == (3, 2, 3)
    with pytest.raises(ValueError):
        E.apply_orientation(a, 9)


def test_malformed_streams_fail_loud():
    with pytest.raises(ValueError):
        E.parse_exif(b"XX" + b"\x00" * 10)  # bad byte-order mark
    with pytest.raises(ValueError):
        E.parse_exif(b"II\x2b\x00\x08\x00\x00\x00")  # magic != 42
    oob = bytearray(E.build_exif(FIELDS))
    struct.pack_into("<I", oob, 4, 99999)  # IFD0 offset out of bounds
    with pytest.raises(ValueError):
        E.parse_exif(bytes(oob))
    # IFD cycle: IFD0's next-IFD pointer back to itself
    cyc = bytearray(E.build_exif({"Make": "x"}))
    (n,) = struct.unpack_from("<H", cyc, 8)
    struct.pack_into("<I", cyc, 8 + 2 + 12 * n, 8)
    with pytest.raises(ValueError):
        E.parse_exif(bytes(cyc))


def test_synth_blob_exif_is_deterministic_and_jpeg_only():
    jpeg_src = png_src = None
    for i in range(40):
        src = f"http://mmbiz.qpic.cn/mmbiz/SIG{i}/640"
        h = xxhash64(src) & 0x7FFFFFFFFFFFFFFF
        if h % 3 == 0 and jpeg_src is None:
            jpeg_src = src
        if h % 3 != 0 and png_src is None:
            png_src = src
    b1, b2 = synth_image_blob(jpeg_src), synth_image_blob(jpeg_src)
    assert b1 == b2  # pure function of the URL
    meta = E.parse_exif(E.extract_exif_jpeg(b1))
    assert meta["Make"] == "SynthCam" and 1 <= meta["Orientation"] <= 8
    assert synth_image_blob(png_src)[:8] == b"\x89PNG\r\n\x1a\n"


def test_extract_image_exif_operator(spark):
    srcs = [(f"http://mmbiz.qpic.cn/mmbiz/OP{i}/640",) for i in range(30)]
    df = fetch_and_decode_images(spark.createDataFrame(srcs, "src string"))
    out = extract_image_exif(df).collect()
    jpegs = [r for r in out if r["dec_fmt"] == "jpeg"]
    others = [r for r in out if r["dec_fmt"] != "jpeg"]
    assert jpegs and others  # the synthetic web serves a format mix
    for r in jpegs:
        assert r["exif_make"] == "SynthCam"
        assert 1 <= r["exif_orientation"] <= 8
        assert r["exif_datetime"].startswith("2020:")
        # upright dims: EXIF pixel dims with axes swapped for 5-8
        if r["exif_orientation"] >= 5:
            assert (r["upright_w"], r["upright_h"]) == (r["h"], r["w"])
        else:
            assert (r["upright_w"], r["upright_h"]) == (r["w"], r["h"])
    for r in others:
        assert r["exif_make"] is None and r["exif_orientation"] is None


GPS_FIELDS = {
    "Make": "SynthCam",
    "Orientation": 3,
    "GPS": {
        "GPSLatitudeRef": "N",
        "GPSLatitude": [(37, 1), (46, 1), (30, 1)],
        "GPSLongitudeRef": "W",
        "GPSLongitude": [(122, 1), (25, 1), (10, 1)],
    },
    "Exif": {"PixelXDimension": 64, "PixelYDimension": 32},
}


@pytest.mark.parametrize("bo", ["<", ">"])
def test_gps_sub_ifd_round_trip(bo):
    """build_exif emits a GPS sub-IFD (pointer 0x8825) that parse_exif
    reads back field-exact, alongside IFD0 and the Exif sub-IFD."""
    got = E.parse_exif(E.build_exif(GPS_FIELDS, bo))
    assert got["Make"] == "SynthCam" and got["Orientation"] == 3
    assert got["GPS"]["GPSLatitudeRef"] == "N"
    assert got["GPS"]["GPSLatitude"] == [(37, 1), (46, 1), (30, 1)]
    assert got["GPS"]["GPSLongitudeRef"] == "W"
    assert got["Exif"]["PixelXDimension"] == 64


def test_strip_gps_finds_pointer_in_ifd1():
    """A GPS sub-IFD whose pointer sits in the thumbnail IFD1 (parsed
    as fields['IFD1']['GPS']) is counted and removed, not leaked."""
    le = "<"
    tiff = b"II" + struct.pack(f"{le}HI", 42, 8)
    # IFD0 @8: Orientation=1, next IFD -> 26
    tiff += struct.pack(f"{le}H", 1) + struct.pack(f"{le}HHIHH", 0x0112, 3, 1, 1, 0)
    tiff += struct.pack(f"{le}I", 26)
    # IFD1 @26: GPSIFDPointer -> 44, no next IFD
    tiff += struct.pack(f"{le}H", 1) + struct.pack(f"{le}HHII", 0x8825, 4, 1, 44)
    tiff += struct.pack(f"{le}I", 0)
    # GPS IFD @44: GPSLatitudeRef = "N"
    tiff += struct.pack(f"{le}H", 1) + struct.pack(f"{le}HHI", 0x0001, 2, 2) + b"N\0\0\0"
    tiff += struct.pack(f"{le}I", 0)
    fields = E.parse_exif(tiff)
    assert fields["IFD1"]["GPS"] == {"GPSLatitudeRef": "N"}
    clean, had = E.strip_gps(fields)
    assert had
    assert clean == {"Orientation": 1, "IFD1": {}}
    assert E.strip_gps({"Exif": {"GPSIFDPointer": 44}}) == ({"Exif": {}}, True)


def test_strip_gps_and_remove_segment():
    """strip_gps drops exactly the GPS keys; remove_exif_jpeg excises
    the APP1 segment byte-exactly (splice inverse); the full scrub
    (parse -> strip -> rebuild -> re-splice) leaves pixels and the
    remaining metadata intact and is idempotent."""
    clean, had = E.strip_gps(E.parse_exif(E.build_exif(GPS_FIELDS)))
    assert had and "GPS" not in clean and clean["Make"] == "SynthCam"
    _, had2 = E.strip_gps(clean)
    assert not had2  # idempotent flag

    px = np.random.RandomState(9).randint(0, 256, (16, 24, 3)).astype(np.uint8)
    jb = J.encode_jpeg(px)
    jb_exif = E.insert_exif_jpeg(jb, E.build_exif(GPS_FIELDS))
    assert E.remove_exif_jpeg(jb_exif) == jb  # exact splice inverse
    assert E.remove_exif_jpeg(jb) == jb  # no-op without the segment

    scrubbed = E.insert_exif_jpeg(
        E.remove_exif_jpeg(jb_exif), E.build_exif(clean)
    )
    meta = E.parse_exif(E.extract_exif_jpeg(scrubbed))
    assert "GPS" not in meta and "GPSIFDPointer" not in meta
    assert meta["Make"] == "SynthCam" and meta["Orientation"] == 3
    assert (J.decode_jpeg(scrubbed)[3] == J.decode_jpeg(jb)[3]).all()


def test_exif_gps_scrub_verify_reads_no_exif_as_empty():
    """The exif_gps_scrub gate's verify stage re-parses each scrubbed
    JPEG; one without an APP1 Exif segment is empty metadata, not a
    TypeError from parse_exif(None)."""
    from python_crawler_spark.queries import _jpeg_exif

    jb = J.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    assert E.extract_exif_jpeg(jb) is None
    assert _jpeg_exif(jb) == {}
    assert _jpeg_exif(E.insert_exif_jpeg(jb, E.build_exif(GPS_FIELDS)))["Make"] == "SynthCam"


def test_scrub_exif_gps_operator(spark):
    """Operator semantics on the gate corpus: had_gps follows the
    generator's parity rule, scrubbed bytes carry no GPS, everything
    else survives, and GPS-free rows pass through byte-identical."""
    from python_crawler_spark.operators.multimodal import (
        scrub_exif_gps,
        synth_geotagged_blob,
    )

    srcs = [(f"http://img.example.invalid/gps/{i}.bin",) for i in range(24)]
    df = spark.createDataFrame(srcs, "src string")
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    schema = T.StructType(
        df.schema.fields + [T.StructField("bytes", T.BinaryType())]
    )

    def fetch(batches):
        for pdf in batches:
            yield pdf.assign(bytes=[synth_geotagged_blob(s) for s in pdf["src"]])

    out = scrub_exif_gps(df.mapInPandas(fetch, schema), "bytes").collect()
    assert any(r["had_gps"] for r in out) and not all(r["had_gps"] for r in out)
    for r in out:
        h = xxhash64("exif:" + r["src"]) & 0x7FFFFFFFFFFFFFFF
        assert r["had_gps"] == (h % 2 == 0)
        meta = E.parse_exif(E.extract_exif_jpeg(bytes(r["scrubbed_bytes"])))
        assert "GPS" not in meta and "GPSIFDPointer" not in meta
        assert meta["Make"] == "SynthCam"
        if not r["had_gps"]:
            assert bytes(r["scrubbed_bytes"]) == bytes(r["bytes"])


# ------------------------------------------------------------ property fuzz

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _ascii = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
    )
    _value = st.one_of(
        _ascii,
        st.integers(min_value=0, max_value=2**32 - 1),
        st.tuples(
            st.integers(min_value=0, max_value=2**32 - 1),
            st.integers(min_value=1, max_value=2**32 - 1),
        ),
        st.binary(max_size=24),
    )
    _tags = st.sampled_from(
        ["Make", "Model", "Software", "ImageDescription", "DateTime"]
    )

    @settings(max_examples=60, deadline=None)
    @given(
        fields=st.dictionaries(_tags, _value, min_size=1, max_size=5),
        sub=st.dictionaries(
            st.sampled_from(["DateTimeOriginal", "PixelXDimension", "FNumber"]),
            _value,
            max_size=3,
        ),
        bo=st.sampled_from(["<", ">"]),
    )
    def test_exif_round_trip_property(fields, sub, bo):
        """Any field dict the builder accepts must parse back to the
        same values under either byte order — ints may widen
        SHORT->LONG but never change value."""
        f = dict(fields)
        if sub:
            f["Exif"] = sub
        got = E.parse_exif(E.build_exif(f, bo))
        for k, v in fields.items():
            assert got[k] == v, (k, v, got.get(k))
        for k, v in sub.items():
            assert got["Exif"][k] == v

    _rat = st.tuples(
        st.integers(min_value=0, max_value=2**32 - 1),
        st.integers(min_value=1, max_value=2**32 - 1),
    )

    @settings(max_examples=60, deadline=None)
    @given(
        fields=st.dictionaries(_tags, _value, min_size=1, max_size=3),
        gps=st.fixed_dictionaries(
            {},
            optional={
                "GPSLatitudeRef": st.sampled_from(["N", "S"]),
                "GPSLatitude": st.lists(_rat, min_size=1, max_size=3),
                "GPSLongitudeRef": st.sampled_from(["E", "W"]),
                "GPSLongitude": st.lists(_rat, min_size=1, max_size=3),
            },
        ),
        bo=st.sampled_from(["<", ">"]),
    )
    def test_exif_gps_round_trip_and_scrub_property(fields, gps, bo):
        """Any GPS sub-IFD the builder accepts round-trips field-exact
        under either byte order, and strip_gps + rebuild always yields
        a GPS-free stream with every other field intact."""
        f = dict(fields)
        if gps:
            f["GPS"] = gps
        got = E.parse_exif(E.build_exif(f, bo))
        for k, v in gps.items():
            gv = got["GPS"][k]
            # single-element RATIONAL lists parse back as the bare tuple
            assert gv == (v[0] if isinstance(v, list) and len(v) == 1 else v)
        clean, had = E.strip_gps(got)
        assert had == bool(gps)
        reparsed = E.parse_exif(E.build_exif(clean, bo))
        assert "GPS" not in reparsed and "GPSIFDPointer" not in reparsed
        for k, v in fields.items():
            assert reparsed[k] == v

    @settings(max_examples=80, deadline=None)
    @given(data=st.binary(min_size=0, max_size=120))
    def test_exif_parser_never_hangs_or_crashes_unguarded(data):
        """Arbitrary bytes either parse or raise ValueError/struct.error
        — never an unbounded loop or an uncontrolled exception type."""
        try:
            E.parse_exif(b"II\x2a\x00" + data)
        except (ValueError, struct.error):
            pass

except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass
