"""Video / audio kernels for the multimodal column operators.

Round 4 closes two more codec seams with REAL public formats that
need only numpy + stdlib:

- **WAV (RIFF PCM)**: encode_wav/decode_wav implement the public
  RIFF/WAVE layout — PCM 8/16-bit and IEEE-float32, mono or
  multi-channel (downmixed) — so ``decode_audio`` handles genuine
  .wav bytes end-to-end.
- **AVI (RIFF) + MJPEG**: encode_avi_mjpeg emits a spec-conformant
  AVI container (hdrl/avih/strl + movi + idx1) whose frames are real
  baseline JPEGs (functions/jpeg.py); video_info/iter_frames demux it
  lazily (frame sampling reads chunk headers, never all frames).

Round 5 closes the container story entirely: **FLAC**
(functions/flac.py — RFC 9639 frames, Rice coding, fixed + LPC
predictors, CRC-8/16 + MD5 verified), **MP4/ISO BMFF**
(functions/mp4.py — full stsc/stco/co64 demux, motion-JPEG tracks
decode end-to-end), and **Matroska/webm** (functions/matroska.py —
EBML walker, SimpleBlock/BlockGroup, all lacing modes, V_MJPEG
decodes). What still needs an external library is exactly the
PERCEPTUAL bitstreams: h264/hevc/vp8/vp9/av1 video and mp3/aac
audio. Those raise NotImplementedError with a clear message; the
surrounding sampling/feature logic is identical when ffmpeg-class
decode is swapped in.

The deterministic containers remain as cheap test fixtures:

- ``PCSV`` video: header (frame count, fps) + length-prefixed image
  frames (real PNG since round 4).
- ``PCSA`` audio: header (sample rate) + int16 mono PCM.

The Spark-side plumbing (BinaryType columns, typed metadata,
mapInPandas batch shape, partitioning) is production-real.
"""

from __future__ import annotations

import struct

import numpy as np

from . import images as IMG

MAGIC_V = b"PCSV"
MAGIC_A = b"PCSA"


# ------------------------------------------------------------------ video


def encode_video(frames: list[np.ndarray], fps: int = 25) -> bytes:
    """PCSV container of real PNG frames (lossless; frame-exact tests)."""
    blobs = [IMG.encode_image(f, "png") for f in frames]
    head = MAGIC_V + len(blobs).to_bytes(4, "big") + fps.to_bytes(2, "big")
    return head + b"".join(len(b).to_bytes(4, "big") + b for b in blobs)


def video_info(data: bytes) -> tuple[int, int]:
    """(n_frames, fps) without decoding frame pixel data. Dispatches:
    PCSV test container, real AVI (RIFF demux), animated GIF, else
    the mp4/webm library seam."""
    if data[:4] == MAGIC_V:
        return int.from_bytes(data[4:8], "big"), int.from_bytes(data[8:10], "big")
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        n, us_per_frame, _ = _avi_header(data)
        fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
        return n, fps
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from . import gif as GIF

        frames = GIF.decode_gif_frames(data)
        delay = next((d for _, d in frames if d), 0)
        return len(frames), (round(100 / delay) if delay else 0)
    if len(data) >= 12 and data[4:8] == b"ftyp":
        from . import mp4 as MP4

        n, fps, _codec = MP4.mp4_info(data)
        return n, fps
    if data[:4] == b"\x1aE\xdf\xa3":
        from . import matroska as MKV

        n, fps, _codec = MKV.mkv_info(data)
        return n, fps
    return decode_video_standard(data)


def iter_frames(data: bytes):
    """Yield (frame_idx, frame_blob) lazily — sampling N of F frames
    reads chunk headers, not F decoded images (AVI/PCSV; GIF is
    inherently sequential-decode, frames re-emitted as PNG blobs).
    Frame blobs always decode via images.decode_image's signature
    dispatch (PNG or real JPEG)."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        yield from _avi_iter_frames(data)
        return
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from . import gif as GIF

        for i, (px, _delay) in enumerate(GIF.decode_gif_frames(data)):
            yield i, IMG.encode_png(np.ascontiguousarray(px))
        return
    if len(data) >= 12 and data[4:8] == b"ftyp":
        from . import mp4 as MP4

        MP4.mp4_frame_decodable(data)  # container demuxes; codec gates
        yield from MP4.mp4_iter_samples(data)
        return
    if data[:4] == b"\x1aE\xdf\xa3":
        from . import matroska as MKV

        MKV.mkv_frame_decodable(data)  # container demuxes; codec gates
        yield from MKV.mkv_iter_frames(data)
        return
    if data[:4] != MAGIC_V:
        decode_video_standard(data)
    n = int.from_bytes(data[4:8], "big")
    off = 10
    for i in range(n):
        ln = int.from_bytes(data[off : off + 4], "big")
        off += 4
        yield i, data[off : off + ln]
        off += ln


def decode_video_standard(data: bytes):
    """Library seam for inter-frame CODECS: h264/hevc/vp8/vp9/av1
    bitstream decode is ffmpeg-class work. The CONTAINERS are all REAL
    here — AVI/RIFF (encode_avi_mjpeg / _avi_iter_frames), MP4/ISO
    BMFF (functions/mp4.py), Matroska/webm (functions/matroska.py) —
    with motion-JPEG tracks decoding end-to-end in each; swap
    pyav/ffmpeg in for the codec half — sampling logic and schemas
    are identical."""
    raise NotImplementedError(
        "unrecognized video container (MP4, Matroska/webm, AVI, GIF and "
        "PCSV demux natively; h264/hevc/vp9-class bitstreams inside them "
        "require ffmpeg-class decode)"
    )


# --------------------------------------------------- real AVI (MJPEG)
# Minimal but spec-conformant RIFF/AVI writer and lazy demuxer
# (public Microsoft AVI RIFF layout): LIST hdrl (avih + LIST strl
# (strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)) + LIST movi with
# '00dc' chunks carrying baseline-JPEG frames + idx1 index. All
# little-endian; chunks pad to even length.


def encode_avi_mjpeg(frames: list[np.ndarray], fps: int = 25, quality: int = 90) -> bytes:
    """(h, w, 3) uint8 frames -> real AVI bytes with MJPEG streams
    (each frame a baseline JFIF JPEG from functions/jpeg.py)."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    blobs = [IMG.JPEG.encode_jpeg(f, quality) for f in frames]
    max_sz = max(len(b) for b in blobs)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    us_per_frame = round(1_000_000 / fps) if fps else 0
    avih = struct.pack(
        "<14I", us_per_frame, max_sz * fps, 0, 0x10, len(blobs), 0, 1, max_sz,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsMJPG"
        + struct.pack("<10I", 0, 0, 0, 1, fps, 0, len(blobs), max_sz, 0xFFFFFFFF, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_chunks = [chunk(b"00dc", b) for b in blobs]
    movi = lst(b"movi", b"".join(movi_chunks))
    # idx1: offsets are relative to the start of the movi LIST body
    # (the 'movi' fourcc position), per the de-facto convention
    idx = bytearray()
    off = 4
    for b, ck in zip(blobs, movi_chunks):
        idx += b"00dc" + struct.pack("<3I", 0x10, off, len(b))
        off += len(ck)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _avi_header(data: bytes) -> tuple[int, int, tuple[int, int]]:
    """Parse the avih main header -> (total_frames, usec_per_frame,
    (w, h)). Raises on streams this demuxer can't read."""
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if fourcc == b"LIST":
            ltype = data[pos + 8 : pos + 12]
            if ltype == b"hdrl":
                pos += 12  # descend into the header list
                continue
        if fourcc == b"avih":
            body = data[pos + 8 : pos + 8 + size]
            vals = struct.unpack("<14I", body[:56])
            return vals[4], vals[0], (vals[8], vals[9])
        pos += 8 + size + (size % 2)
    raise ValueError("AVI missing avih header")


def _avi_iter_frames(data: bytes):
    """Lazily yield (idx, jpeg_bytes) from the movi list's 00dc/00db
    chunks — chunk headers only, no decoding, no index required."""
    pos = 12
    movi_end = len(data)
    in_movi = False
    i = 0
    while pos + 8 <= min(len(data), movi_end):
        fourcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if fourcc == b"LIST":
            ltype = data[pos + 8 : pos + 12]
            if ltype == b"movi":
                in_movi = True
                movi_end = pos + 8 + size
                pos += 12
                continue
        if in_movi and fourcc[2:4] in (b"dc", b"db"):
            yield i, data[pos + 8 : pos + 8 + size]
            i += 1
        pos += 8 + size + (size % 2)


def sample_frame_indices(n_frames: int, n_samples: int) -> list[int]:
    """Evenly spaced frame indices (first frame always included) —
    the standard keyframe-ish sampling a training pipeline uses."""
    if n_frames <= 0 or n_samples <= 0:
        return []
    if n_samples >= n_frames:
        return list(range(n_frames))
    step = n_frames / n_samples
    return sorted({int(i * step) for i in range(n_samples)})


# ------------------------------------------------------------------ audio


def encode_audio(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono PCM container."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("samples must be 1-D int16")
    return MAGIC_A + rate.to_bytes(4, "big") + samples.tobytes()


def decode_audio(data: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, int16 mono samples). Dispatches: PCSA test
    container, real WAV (RIFF PCM/float), else the mp3/aac seam."""
    if data[:4] == MAGIC_A:
        rate = int.from_bytes(data[4:8], "big")
        return rate, np.frombuffer(data[8:], dtype=np.int16)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_wav(data)
    if data[:4] == b"fLaC":
        from . import flac as FLAC

        rate, pcm = FLAC.decode_flac(data)
        if pcm.ndim == 2:  # downmix like decode_wav (feature math is mono)
            x = pcm.astype(np.float64).mean(axis=1)
            pcm = np.clip(np.round(x), -32768, 32767).astype(np.int16)
        return rate, pcm
    return decode_audio_standard(data)


def decode_audio_standard(data: bytes):
    """Library seam for PERCEPTUAL audio codecs: mp3/aac PCM decode is
    a codec library's job (psychoacoustic filterbanks). WAV (incl. IMA
    ADPCM) and FLAC are REAL here (decode_wav, functions/flac.py), and
    mp3 FRAMING (duration/bitrate/rate metadata) parses natively via
    functions/mp3.py — swap soundfile/ffmpeg in for the PCM half; the
    feature math below runs unchanged on the decoded samples."""
    raise NotImplementedError(
        "mp3/aac PCM decode requires an audio codec library (mp3 framing "
        "metadata parses via functions/mp3.mp3_info); WAV, FLAC and the "
        "deterministic PCSA container decode natively"
    )


# ------------------------------------------------------------ real WAV
# Public RIFF/WAVE layout: 'fmt ' chunk (format code, channels, rate,
# byte rate, block align, bits) + 'data' chunk. PCM 8/16-bit and
# IEEE-float32 supported; compressed format codes raise.


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 PCM -> real WAV bytes. (n,) mono or (n, ch) interleaved."""
    if samples.dtype != np.int16 or samples.ndim not in (1, 2):
        raise ValueError("samples must be int16, (n,) or (n, channels)")
    ch = 1 if samples.ndim == 1 else samples.shape[1]
    body = samples.tobytes()  # numpy C-order == interleaved frames
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Real WAV bytes -> (rate, int16 MONO samples) — multi-channel
    input is mean-downmixed (the feature math is mono)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    fmt_code = channels = rate = bits = None
    pcm = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)
        if cid == b"fmt ":
            fmt_code, channels, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if fmt_code == 0xFFFE and size >= 40:  # WAVE_FORMAT_EXTENSIBLE
                fmt_code = struct.unpack("<H", body[24:26])[0]
        elif cid == b"data":
            pcm = body
    if fmt_code is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt_code == 1 and bits == 16:
        x = np.frombuffer(pcm, dtype="<i2").astype(np.float64)
    elif fmt_code == 1 and bits == 8:  # unsigned 8-bit per spec
        x = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float64) - 128.0) * 256.0
    elif fmt_code == 3 and bits == 32:  # IEEE float
        x = np.frombuffer(pcm, dtype="<f4").astype(np.float64) * 32767.0
    elif fmt_code == 0x11:  # IMA ADPCM (public IMA/DVI spec)
        x = _ima_adpcm_decode(pcm, channels or 1, block_align).astype(np.float64)
    else:
        raise NotImplementedError(
            f"WAV format code {fmt_code}/{bits}-bit "
            "(PCM 8/16, float32 and IMA ADPCM only)"
        )
    if channels and channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    return rate, np.clip(np.round(x), -32768, 32767).astype(np.int16)


# ------------------------------------------------------ IMA ADPCM (WAV)
# Public IMA/DVI ADPCM tables (the 4-bit lossy PCM compression WAV
# format code 0x11 uses). Per-block: a 4-byte header per channel
# (int16 predictor, step index, reserved) then nibble pairs, channels
# interleaved in 4-byte groups.
_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int64)


def _ima_step_one(pred: int, index: int, nib: int) -> tuple[int, int]:
    step = int(_IMA_STEP[index])
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nib])))
    return pred, index


def _ima_adpcm_decode(pcm: bytes, channels: int, block_align: int) -> np.ndarray:
    """ADPCM data chunk -> channel-interleaved int-valued samples."""
    if block_align < 4 * channels:
        raise ValueError("WAV/ADPCM: block_align smaller than headers")
    out = []
    for b0 in range(0, len(pcm) - block_align + 1, block_align):
        block = pcm[b0 : b0 + block_align]
        preds, idxs, chans = [], [], []
        for c in range(channels):
            p, i = struct.unpack_from("<hBx", block, 4 * c)
            if i > 88:
                raise ValueError("WAV/ADPCM: step index out of range")
            preds.append(p), idxs.append(i), chans.append([p])
        dpos = 4 * channels
        while dpos + 4 * channels <= len(block):
            for c in range(channels):  # 4-byte (8-nibble) group per channel
                for byte in block[dpos + 4 * c : dpos + 4 * c + 4]:
                    for nib in (byte & 0xF, byte >> 4):
                        preds[c], idxs[c] = _ima_step_one(preds[c], idxs[c], nib)
                        chans[c].append(preds[c])
            dpos += 4 * channels
        n = min(len(ch) for ch in chans)
        out.append(np.stack([np.array(ch[:n]) for ch in chans], axis=1))
    if not out:
        raise ValueError("WAV/ADPCM: no complete block")
    return np.concatenate(out, axis=0).reshape(-1)


def encode_wav_ima_adpcm(samples: np.ndarray, rate: int = 16000,
                         samples_per_block: int = 505) -> bytes:
    """int16 mono PCM -> WAV with IMA ADPCM (format 0x11) — exercises
    the compressed-WAV decode path with a real, conformant producer."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("mono int16 only")
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + multiple of 8")
    block_align = 4 + (samples_per_block - 1) // 2
    body = bytearray()
    index = 0
    for b0 in range(0, len(samples), samples_per_block):
        chunk = samples[b0 : b0 + samples_per_block]
        pred = int(chunk[0])
        body += struct.pack("<hBx", pred, index)
        nibbles = []
        for s in chunk[1:]:
            # pick the nibble whose decoded step lands nearest target
            step = int(_IMA_STEP[index])
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            mask = 4
            d = step >> 3
            while mask:
                if diff >= step:
                    nib |= mask
                    diff -= step
                    d += step
                step >>= 1
                mask >>= 1
            pred, index = _ima_step_one(pred, index, nib)
            nibbles.append(nib)
        nibbles += [0] * (-len(nibbles) % 8)  # pad final block
        for i in range(0, len(nibbles), 2):
            body += bytes([nibbles[i] | (nibbles[i + 1] << 4)])
    fmt = struct.pack("<HHIIHH", 0x11, 1, rate,
                      rate * block_align // samples_per_block,
                      block_align, 4)
    fmt += struct.pack("<HH", 2, samples_per_block)  # cbSize + extra
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + bytes(body)
    if len(body) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def pcm_features(rate: int, pcm: np.ndarray) -> dict:
    """Real feature math over raw int16 PCM: duration, RMS (dBFS-ish
    scale), zero-crossing rate, peak amplitude. Pure function of
    (rate, samples) — shared by the bytes path (audio_features) and
    the audio_features_extract gate's golden oracle, which computes
    features from the GENERATOR'S samples so only a lossless
    encode→decode round trip can match it."""
    x = pcm.astype(np.float64) / 32768.0
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
    zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if n > 1 else 0.0
    return {
        "sample_rate": rate,
        "n_samples": n,
        "duration_s": n / rate if rate else 0.0,
        "rms": rms,
        "zero_cross_rate": zc,
        "peak": float(np.max(np.abs(x))) if n else 0.0,
    }


def audio_features(data: bytes) -> dict:
    """pcm_features over decoded container bytes."""
    rate, pcm = decode_audio(data)
    return pcm_features(rate, pcm)
