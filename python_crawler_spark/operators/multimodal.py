"""Image pipeline operators (SURVEY D7, S8, K5, F15-F17, X3, X7-X8).

The reference streams each image to disk, posts it to a re-host
service, and classifies by byte size (weixin_public.py:310-373).
Here the pipeline is columnar: explode <img> tags -> signature
blacklist anti-join -> dedupe URLs (the reference's download cache,
weixin_public.py:314) -> fetch bytes (sandbox: deterministic synth
from the URL) -> decode/phash -> deterministic re-host id.

bytes/decode cross the Arrow boundary in batches (mapInPandas); pixel
work is numpy. PNG/JPEG/GIF decode are REAL (functions/images,
functions/jpeg, functions/gif — round 4); the remaining seams are the
HTTP fetch itself and perceptual A/V codecs (mp4/mp3 family, see
functions/media.decode_{video,audio}_standard).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import exif as EXIF
from ..functions import images as IMG
from ..functions.hashing import xxhash64
from ..functions.sqltext import sql_ident, sql_lit

TFS_BASE = "http://tfs.example.invalid/"


def synth_image_pixels(src_url: str) -> tuple[np.ndarray, str]:
    """Deterministic pixels for a synthetic image URL: dimensions and
    content derive from xxhash64(url) only — same pixels at any scale
    or parallelism. Returns (pixels, enc_fmt). The synthetic web
    serves a mix of PNG (a fifth Adam7-interlaced), baseline JPEG,
    and progressive JPEG (half of the JPEG share — matching the real
    web, where large CDN images are routinely progressive), so the
    e2e crawl exercises every decoder the engine ships."""
    h = xxhash64(src_url) & 0x7FFFFFFFFFFFFFFF
    w = 8 + h % 48
    ht = 8 + (h // 48) % 48
    rng = np.random.RandomState(h % (2**31))
    px = rng.randint(0, 256, size=(ht, w, 3)).astype(np.uint8)
    if h % 3 == 0:
        return px, ("jpeg_progressive" if h % 6 == 0 else "jpeg")
    return px, ("png_interlaced" if h % 5 == 0 else "png")


def synth_image_blob(src_url: str) -> bytes:
    """Encoded bytes for a synthetic image URL. JPEGs carry a
    deterministic EXIF APP1 (orientation cycling through all 8 values,
    camera make/model, capture timestamp, pixel dims) so the e2e crawl
    exercises the EXIF parser on real segment bytes; PNG/GIF are bare.
    Shared by the engine fetch stage AND the sequential simulator
    (tests/oracle.py) — byte-identical on both sides by construction."""
    px, enc_fmt = synth_image_pixels(src_url)
    blob = IMG.encode_image(px, enc_fmt)
    if enc_fmt.startswith("jpeg"):
        h = xxhash64("exif:" + src_url) & 0x7FFFFFFFFFFFFFFF
        ts = (
            f"2020:{1 + h % 12:02d}:{1 + (h // 12) % 28:02d} "
            f"{h % 24:02d}:{(h // 24) % 60:02d}:{(h // 1440) % 60:02d}"
        )
        tiff = EXIF.build_exif(
            {
                "Make": "SynthCam",
                "Model": f"SC-{h % 100}",
                "Orientation": 1 + h % 8,
                "DateTime": ts,
                "Exif": {
                    "DateTimeOriginal": ts,
                    "PixelXDimension": int(px.shape[1]),
                    "PixelYDimension": int(px.shape[0]),
                },
            },
            byte_order="<" if h % 2 == 0 else ">",
        )
        blob = EXIF.insert_exif_jpeg(blob, tiff)
    return blob


def synth_video_blob(src_url: str) -> bytes:
    """Deterministic container bytes for a synthetic video URL: frame
    count (4..15), fps ({10,12,25,30}), dims, and pixel content all
    derive from xxhash64(url); the CONTAINER cycles by hash over all
    four native demux paths — AVI/MJPEG, MP4/MJPEG, Matroska/V_MJPEG,
    and the lossless PCSV test container — so a pipeline over these
    URLs exercises every real demuxer the repo ships."""
    from ..functions import matroska as MKV
    from ..functions import media as MED
    from ..functions import mp4 as MP4

    h = xxhash64(src_url) & 0x7FFFFFFFFFFFFFFF
    n = 4 + h % 12
    fps = (10, 12, 25, 30)[(h >> 8) % 4]
    w = 8 + (h >> 4) % 24
    ht = 8 + (h >> 9) % 24
    rng = np.random.RandomState(h % (2**31))
    frames = [rng.randint(0, 256, size=(ht, w, 3)).astype(np.uint8) for _ in range(n)]
    k = (h >> 16) % 4
    if k == 0:
        return MED.encode_avi_mjpeg(frames, fps=fps)
    if k == 1:
        return MP4.encode_mp4_mjpeg(frames, fps=fps)
    if k == 2:
        return MKV.encode_mkv_mjpeg(frames, fps=fps)
    return MED.encode_video(frames, fps=fps)


def fetch_and_decode_videos(videos: DataFrame, src_col: str = "src") -> DataFrame:
    """video_bytes for each video URL (sandbox: deterministic synth
    container from the URL; production: the batch HTTP client in the
    same mapInPandas — the S6/S8 seam)."""
    out_schema = T.StructType(
        videos.schema.fields + [T.StructField("video_bytes", T.BinaryType())]
    )

    def run(batches):
        for pdf in batches:
            yield pdf.assign(video_bytes=[synth_video_blob(s) for s in pdf[src_col]])

    return videos.mapInPandas(run, out_schema)


def synth_audio_samples(src_url: str) -> tuple[int, np.ndarray]:
    """Deterministic (rate, int16 mono PCM) for a synthetic audio URL:
    rate, length, and a two-tone sine mix all derive from
    xxhash64(url). Sine content (not noise) keeps RMS/zero-cross/peak
    in realistic ranges."""
    h = xxhash64(src_url) & 0x7FFFFFFFFFFFFFFF
    rate = (8000, 16000, 22050, 44100)[(h >> 6) % 4]
    n = rate // 4 + h % 1000
    t = np.arange(n, dtype=np.float64)
    f1 = 50.0 + (h >> 10) % 400
    f2 = 500.0 + (h >> 20) % 3000
    amp = 0.2 + ((h >> 30) % 60) / 100.0
    x = amp * (0.7 * np.sin(2 * np.pi * f1 * t / rate) + 0.3 * np.sin(2 * np.pi * f2 * t / rate))
    return rate, np.clip(np.round(x * 32767.0), -32768, 32767).astype(np.int16)


def synth_audio_blob(src_url: str) -> bytes:
    """Encoded container bytes for a synthetic audio URL: the
    container cycles by hash over real WAV (RIFF PCM16), real FLAC
    (RFC 9639), and the PCSA test container — all LOSSLESS for int16
    mono, so decoded samples equal the generator's exactly."""
    from ..functions import flac as FLAC
    from ..functions import media as MED

    rate, pcm = synth_audio_samples(src_url)
    k = (xxhash64(src_url) >> 16) % 3
    if k == 0:
        return MED.encode_wav(pcm, rate)
    if k == 1:
        return FLAC.encode_flac(pcm, rate)
    return MED.encode_audio(pcm, rate)


def fetch_audio(audio: DataFrame, src_col: str = "src") -> DataFrame:
    """audio_bytes for each audio URL (sandbox: deterministic synth
    container from the URL; production: the batch HTTP client in the
    same mapInPandas — the S6/S8 seam)."""
    out_schema = T.StructType(
        audio.schema.fields + [T.StructField("audio_bytes", T.BinaryType())]
    )

    def run(batches):
        for pdf in batches:
            yield pdf.assign(audio_bytes=[synth_audio_blob(s) for s in pdf[src_col]])

    return audio.mapInPandas(run, out_schema)


def fetch_and_decode_images(
    imgs: DataFrame, src_col: str = "src", on_error: str = "raise"
) -> DataFrame:
    """bytes + (w, h, fmt, phash, small) for each image URL.

    In production the fetch half is an HTTP client inside the same
    mapInPandas (per-executor session, iterator pattern — SURVEY §4
    connection amortization); in-sandbox bytes are synthesized
    deterministically from the URL.

    ``on_error``: 'raise' (default — the synthetic web is valid by
    construction, and the e2e exact-match contract depends on every
    fetch decoding) or 'null' — the production setting: an
    undecodable payload keeps its bytes but yields NULL decode
    columns (`dec_fmt IS NULL` quarantines) instead of killing the
    crawl round."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    out_schema = T.StructType(
        imgs.schema.fields
        + [
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("dec_fmt", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField("small", T.BooleanType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            blobs, ws, hs, fmts, phashes, smalls = [], [], [], [], [], []
            for src in pdf[src_col]:
                blob = synth_image_blob(src)
                w, h, fmt, ph, sm = _decode_cols(blob, on_error)
                blobs.append(blob)
                ws.append(w)
                hs.append(h)
                fmts.append(fmt)
                phashes.append(ph)
                smalls.append(sm)
            yield pdf.assign(
                bytes=blobs,
                w=pd.array(ws, dtype="Int32"),
                h=pd.array(hs, dtype="Int32"),
                dec_fmt=fmts,
                phash=pd.array(phashes, dtype="Int64"),
                small=smalls,
            )

    return imgs.mapInPandas(run, out_schema)


def _decode_cols(blob: bytes, on_error: str):
    """(w, h, fmt, phash, small) for one payload — the decode half of
    fetch_and_decode_images, split out so the 'null' quarantine branch
    is unit-testable without a corrupt synthetic web (in-sandbox the
    fetch stage only ever produces valid bytes)."""
    try:
        w, h, fmt, dec = IMG.decode_image(blob)
        return w, h, fmt, IMG.phash64(dec), IMG.is_small(blob)
    except (ValueError, NotImplementedError):
        if on_error == "raise":
            raise
        return None, None, None, None, None


def resize_images(
    imgs: DataFrame, max_side: int = 16, bytes_col: str = "bytes",
    on_error: str = "raise",
) -> DataFrame:
    """Thumbnail stage (training-pipeline resize): decode -> bilinear
    downscale to max_side (aspect-preserving, never upscales) ->
    re-encode lossless. Adds thumb_bytes/thumb_w/thumb_h. Both the
    resize math (functions/images.resize_bilinear) and the standard
    codecs it reads (PNG/JPEG/GIF) are real implementations.

    ``on_error``: 'raise' (default) or 'null' — the production crawl
    setting: an undecodable blob (malformed ValueError OR
    library-seam NotImplementedError) yields NULL thumb columns for
    quarantine instead of killing the stage."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    out_schema = T.StructType(
        imgs.schema.fields
        + [
            T.StructField("thumb_bytes", T.BinaryType()),
            T.StructField("thumb_w", T.IntegerType()),
            T.StructField("thumb_h", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            blobs, ws, hs = [], [], []
            for blob in pdf[bytes_col]:
                try:
                    w, h, _fmt, px = IMG.decode_image(bytes(blob))
                    th, tw = IMG.thumbnail_dims(h, w, max_side)
                    tb = IMG.encode_image(IMG.resize_bilinear(px, th, tw), "png")
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    tb = th = tw = None
                blobs.append(tb)
                ws.append(tw)
                hs.append(th)
            yield pdf.assign(
                thumb_bytes=blobs,
                thumb_w=pd.array(ws, dtype="Int32"),
                thumb_h=pd.array(hs, dtype="Int32"),
            )

    return imgs.mapInPandas(run, out_schema)


def sample_video_frames(
    videos: DataFrame, n_samples: int = 4, video_col: str = "video_bytes",
    on_error: str = "raise",
) -> DataFrame:
    """Frame-sampling stage: each video row explodes into n evenly
    spaced frame rows (frame_idx, frame bytes, dims, phash). Frames
    are read lazily from the container — sampling k of F frames never
    decodes the other F-k (functions/media.iter_frames). The video
    bytes column is DROPPED from the output so the explosion doesn't
    replicate megabytes per frame row (at corpus scale the frames
    table is written separately from the videos table).

    ``on_error``: 'raise' (default) or 'null' — an undecodable video
    (malformed ValueError OR an unimplemented-bitstream
    NotImplementedError, e.g. h264 inside a valid container) emits
    ONE row with NULL frame columns (quarantine predicate:
    `frame_idx IS NULL`) instead of killing the stage; frames already
    emitted for that video are dropped so the verdict is per-video."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    from ..functions import media as MED

    keep = [f for f in videos.schema.fields if f.name != video_col]
    out_schema = T.StructType(
        keep
        + [
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("fps", T.IntegerType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
            T.StructField("frame_w", T.IntegerType()),
            T.StructField("frame_h", T.IntegerType()),
            T.StructField("frame_phash", T.LongType()),
        ]
    )
    keep_names = [f.name for f in keep]

    def run(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[video_col])
                vid_rows = []
                try:
                    n, fps = MED.video_info(data)
                    wanted = set(MED.sample_frame_indices(n, n_samples))
                    for idx, blob in MED.iter_frames(data):
                        if idx not in wanted:
                            continue
                        w, h, _fmt, px = IMG.decode_image(blob)
                        vid_rows.append(
                            {
                                **{k: r[k] for k in keep_names},
                                "n_frames": n,
                                "fps": fps,
                                "frame_idx": idx,
                                "frame_bytes": blob,
                                "frame_w": w,
                                "frame_h": h,
                                "frame_phash": IMG.phash64(px),
                            }
                        )
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    vid_rows = [  # one NULL verdict row per corrupt video
                        {
                            **{k: r[k] for k in keep_names},
                            "n_frames": None,
                            "fps": None,
                            "frame_idx": None,
                            "frame_bytes": None,
                            "frame_w": None,
                            "frame_h": None,
                            "frame_phash": None,
                        }
                    ]
                rows.extend(vid_rows)
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return videos.mapInPandas(run, out_schema)


def extract_audio_features(
    audio: DataFrame, audio_col: str = "audio_bytes", on_error: str = "raise"
) -> DataFrame:
    """Audio feature stage: real PCM math (duration/RMS/zero-cross/
    peak) per row over PCSA, real WAV, or real FLAC bytes (per-blob
    dispatch); perceptual mp3/aac stay the library seam
    (functions/media.decode_audio_standard).

    ``on_error``: 'raise' (default) or 'null' — an undecodable clip
    (malformed ValueError OR an unimplemented-codec
    NotImplementedError, e.g. mp3 PCM) yields NULL feature columns
    for quarantine instead of killing the stage."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    from ..functions import media as MED

    out_schema = T.StructType(
        audio.schema.fields
        + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_cross_rate", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
        ]
    )
    _NULLS = dict.fromkeys(
        ("sample_rate", "duration_s", "rms", "zero_cross_rate", "peak")
    )

    def one(b: bytes) -> dict:
        try:
            return MED.audio_features(b)
        except (ValueError, NotImplementedError):
            if on_error == "raise":
                raise
            return _NULLS

    def run(batches):
        for pdf in batches:
            feats = [one(bytes(b)) for b in pdf[audio_col]]
            yield pdf.assign(
                sample_rate=pd.array(
                    [f["sample_rate"] for f in feats], dtype="Int32"
                ),
                duration_s=[f["duration_s"] for f in feats],
                rms=[f["rms"] for f in feats],
                zero_cross_rate=[f["zero_cross_rate"] for f in feats],
                peak=[f["peak"] for f in feats],
            )

    return audio.mapInPandas(run, out_schema)


def with_rehost_id(imgs: DataFrame, src_col: str = "src") -> DataFrame:
    """X7/X8/K5: deterministic re-host identity — replaces the
    reference's abs(hash(url)) filename + TFS retry-until-legal loop
    with abs(xxhash64(url)) and a computed name; '_L' suffix unless
    small (weixin_public.py:339-343)."""
    iid = f"CAST(abs(xxhash64({sql_ident(src_col)})) AS STRING)"
    name = f"concat({iid}, CASE WHEN small THEN '.' ELSE '_L.' END, fmt)"
    return imgs.withColumns({
        "image_id": F.expr(iid),
        "rehost_url": F.expr(f"concat({sql_lit(TFS_BASE)}, {name})"),
    })


def extract_image_features(
    imgs: DataFrame, bytes_col: str = "bytes", on_error: str = "raise"
) -> DataFrame:
    """Visual-statistics columns from a binary image column: mean/std
    luminance, gradient edge fraction, and Hasler-Süsstrunk
    colorfulness (functions/images.image_features) — the per-image
    numbers curation filters gate on (blank/flat detection, texture
    density, colorfulness floors).

    Same 100-TB shape as extract_image_exif: Arrow-batched mapInPandas
    over the opaque binary column, decode + numpy math per batch, no
    shuffle, bytes never leave the scanning executor.

    ``on_error``: 'raise' (default — the deterministic in-sandbox
    corpus is valid by construction, so a failure is a codec
    regression and must fail loudly) or 'null' — the production
    crawl setting: an undecodable blob — malformed (typed ValueError)
    OR a valid stream needing an unimplemented library-class codec
    (NotImplementedError; the caller cannot act on the difference
    either way) — yields NULL feature columns instead of killing the
    stage, and the caller routes `mean_lum IS NULL` rows to a
    quarantine table. A single corrupt image on an open-web crawl
    must not fail a 100-partition job."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    out_schema = T.StructType(
        imgs.schema.fields
        + [
            T.StructField("mean_lum", T.DoubleType()),
            T.StructField("std_lum", T.DoubleType()),
            T.StructField("edge_frac", T.DoubleType()),
            T.StructField("colorfulness", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            ml, sl, ef, cf = [], [], [], []
            for blob in pdf[bytes_col]:
                try:
                    _, _, _, px = IMG.decode_image(bytes(blob))
                    a, b, c, d = IMG.image_features(px)
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    a = b = c = d = None
                ml.append(a)
                sl.append(b)
                ef.append(c)
                cf.append(d)
            yield pdf.assign(mean_lum=ml, std_lum=sl, edge_frac=ef, colorfulness=cf)

    return imgs.mapInPandas(run, out_schema)


def extract_image_exif(
    imgs: DataFrame, bytes_col: str = "bytes", on_error: str = "raise"
) -> DataFrame:
    """EXIF metadata columns from a binary image column: camera
    make/model, orientation, capture time, and the upright (display)
    dimensions after applying the orientation — NULLs for formats that
    carry no EXIF (PNG/GIF) or images without the APP1 segment.

    Arrow-batched mapInPandas over the opaque binary column: the
    100-TB-shape for metadata extraction — no shuffle, no driver
    involvement, bytes never leave the executor that scanned them.

    ``on_error``: 'raise' (default — a parse failure on the
    valid-by-construction sandbox corpus is a codec regression) or
    'null' — the production setting: a CORRUPT APP1 segment
    (parse_exif's typed ValueError) yields all-NULL EXIF columns like
    an absent segment does, instead of killing the stage."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    out_schema = T.StructType(
        imgs.schema.fields
        + [
            T.StructField("exif_make", T.StringType()),
            T.StructField("exif_model", T.StringType()),
            T.StructField("exif_orientation", T.IntegerType()),
            T.StructField("exif_datetime", T.StringType()),
            T.StructField("upright_w", T.IntegerType()),
            T.StructField("upright_h", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            makes, models, orients, dts, uws, uhs = [], [], [], [], [], []
            for blob in pdf[bytes_col]:
                make = model = dt = None
                orient = uw = uh = None
                b = bytes(blob)
                if b[:2] == b"\xff\xd8":
                    try:
                        tiff = EXIF.extract_exif_jpeg(b)
                        meta = EXIF.parse_exif(tiff) if tiff is not None else None
                    except (ValueError, NotImplementedError):
                        if on_error == "raise":
                            raise
                        meta = None  # corrupt segment quarantines as absent
                    if meta is not None:
                        make = meta.get("Make")
                        model = meta.get("Model")
                        orient = meta.get("Orientation")
                        sub = meta.get("Exif", {})
                        dt = sub.get("DateTimeOriginal") or meta.get("DateTime")
                        w = sub.get("PixelXDimension")
                        h = sub.get("PixelYDimension")
                        if w is not None and h is not None:
                            # orientations 5-8 swap the display axes
                            if orient is not None and orient >= 5:
                                uw, uh = int(h), int(w)
                            else:
                                uw, uh = int(w), int(h)
                makes.append(make)
                models.append(model)
                orients.append(orient)
                dts.append(dt)
                uws.append(uw)
                uhs.append(uh)
            yield pdf.assign(
                exif_make=makes,
                exif_model=models,
                exif_orientation=pd.array(orients, dtype="Int32"),
                exif_datetime=dts,
                upright_w=pd.array(uws, dtype="Int32"),
                upright_h=pd.array(uhs, dtype="Int32"),
            )

    return imgs.mapInPandas(run, out_schema)

def synth_geotagged_blob(src_url: str) -> bytes:
    """Corpus generator for the GPS-scrub gate: like synth_image_blob
    but EVERY url encodes as JPEG with EXIF, and a deterministic half
    (by hash parity) additionally carries a GPS sub-IFD with
    deterministic coordinates — the PII case the scrub must remove.
    Query-local fixture (the e2e crawl keeps synth_image_blob, whose
    EXIF is GPS-free, in lockstep with the sequential simulator)."""
    px, _ = synth_image_pixels(src_url)
    blob = IMG.encode_image(px, "jpeg")
    h = xxhash64("exif:" + src_url) & 0x7FFFFFFFFFFFFFFF
    fields: dict = {
        "Make": "SynthCam",
        "Model": f"SC-{h % 100}",
        "Orientation": 1 + h % 8,
        "Exif": {
            "PixelXDimension": int(px.shape[1]),
            "PixelYDimension": int(px.shape[0]),
        },
    }
    if h % 2 == 0:
        fields["GPS"] = {
            "GPSLatitudeRef": "N" if h % 4 == 0 else "S",
            "GPSLatitude": [(h % 90, 1), ((h >> 7) % 60, 1), ((h >> 13) % 60, 1)],
            "GPSLongitudeRef": "E" if h % 8 < 4 else "W",
            "GPSLongitude": [((h >> 3) % 180, 1), ((h >> 9) % 60, 1), ((h >> 15) % 60, 1)],
        }
    return EXIF.insert_exif_jpeg(blob, EXIF.build_exif(fields))


def scrub_exif_gps(imgs: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Privacy scrub over a binary image column — the image twin of
    pii_scrub: strip the GPS sub-IFD (and its IFD0 pointer) from every
    JPEG's EXIF while preserving all other metadata and the pixel data
    byte-for-byte (the compressed scan is never re-encoded). Adds
    `scrubbed_bytes` and `had_gps`; non-JPEG rows and JPEGs without
    EXIF pass through untouched with had_gps=false.

    Arrow-batched mapInPandas, zero shuffle — the 100-TB shape: the
    scrub is a pure per-blob byte transform, so per-core rows/s
    multiplies by executor count. A production pipeline runs it
    between fetch and sink so raw GPS never lands in the corpus."""
    out_schema = T.StructType(
        imgs.schema.fields
        + [
            T.StructField("scrubbed_bytes", T.BinaryType()),
            T.StructField("had_gps", T.BooleanType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            blobs, flags = [], []
            for blob in pdf[bytes_col]:
                b = bytes(blob)
                had = False
                out = b
                if b[:2] == b"\xff\xd8":
                    tiff = EXIF.extract_exif_jpeg(b)
                    if tiff is not None:
                        clean, had = EXIF.strip_gps(EXIF.parse_exif(tiff))
                        if had:
                            out = EXIF.insert_exif_jpeg(
                                EXIF.remove_exif_jpeg(b), EXIF.build_exif(clean)
                            )
                blobs.append(out)
                flags.append(had)
            yield pdf.assign(scrubbed_bytes=blobs, had_gps=flags)

    return imgs.mapInPandas(run, out_schema)
