"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

Two decode backends behind the same totality contract (errors are rows,
never exceptions):

- ``backend="fake"`` (default): deterministic pseudo-features derived from
  the payload's md5 — reproducible anywhere, oracle-checkable in SQL.
- ``backend="real"``: pure-Python container HEADER parsing — PNG IHDR,
  GIF logical screen + frame walk, JPEG SOFn scan, BMP info header,
  TIFF IFD, WebP/AVIF/MP4/MP3, RIFF containers (WAVE fmt/data chunk
  walk → sample rate / PCM frame count / duration; AVI avih header →
  dims, frame count, duration). GIF frame sampling counts real frames
  from the block walk, and ``pcm_sample`` strides the real PCM frames.

Pixel decode is not done here: real-backend ``resize`` needs a codec
passed through the ``decoder=`` hook on :func:`media_transform` — any
callable ``payload -> (width, height, channels, raw_pixel_bytes)``
(e.g. a PIL wrapper) — whose pixels are resampled nearest-neighbor.
Without one, each row reports an error naming the hook. This mirrors
how the reference isolates its decode stage
(``utils/image_utils.py:84-168``) behind a skippable boundary.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..extract import drops_zip_finders

MEDIA_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), True),
    StructField("n_bytes", LongType(), True),
    StructField("digest", StringType(), True),     # md5 hex of payload
    StructField("width", IntegerType(), True),     # fake-decoded dims
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),  # video only
    StructField("sample_rate", IntegerType(), True),  # audio only
    StructField("n_samples", LongType(), True),
    StructField("duration_ms", LongType(), True),  # audio + AVI video
    StructField("error", StringType(), True),
])


def _fake_decode(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for a media decode.

    width  = 1 + (first 2 md5 bytes as int) % 1024
    height = 1 + (next 2 md5 bytes as int) % 1024
    n_frames (video) = 1 + (next 2 bytes) % 300
    audio: sample_rate = 8000 + (hex 13..16) % 40000,
           n_samples = 1 + (hex 17..24) % 10_000_000,
           duration_ms = n_samples * 1000 // sample_rate (exact int div)
    These formulas are reproducible in plain SQL from the md5 hex, which
    is what makes the oracle check exact.
    """
    digest = hashlib.md5(payload).hexdigest()
    width = 1 + int(digest[0:4], 16) % 1024
    height = 1 + int(digest[4:8], 16) % 1024
    n_frames = (1 + int(digest[8:12], 16) % 300) if kind == "video" else None
    sample_rate = n_samples = duration_ms = None
    if kind == "audio":
        sample_rate = 8000 + int(digest[12:16], 16) % 40000
        n_samples = 1 + int(digest[16:24], 16) % 10_000_000
        duration_ms = n_samples * 1000 // sample_rate
    return {
        "n_bytes": len(payload), "digest": digest,
        "width": width, "height": height, "n_frames": n_frames,
        "sample_rate": sample_rate, "n_samples": n_samples,
        "duration_ms": duration_ms,
    }


def _png_dims(b: bytes) -> tuple[int, int, int | None]:
    # IHDR is mandatory-first: width/height are the two big-endian
    # uint32s at offsets 16/20 (8 signature + 4 length + 4 "IHDR")
    if len(b) < 24:
        raise ValueError("truncated PNG header")
    w, h = struct.unpack_from(">II", b, 16)
    return w, h, None


def _gif_dims(b: bytes) -> tuple[int, int, int | None]:
    if len(b) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack_from("<HH", b, 6)
    # frame count = image descriptors in the block stream: skip the
    # global color table, then walk extensions/descriptors to trailer
    pos, packed = 13, b[10]
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    frames = 0
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            frames += 1
            if pos + 10 > len(b):
                break
            local = b[pos + 9]
            pos += 10
            if local & 0x80:
                pos += 3 * (2 << (local & 0x07))
            pos += 1  # LZW minimum code size
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    return w, h, max(frames, 1)


# SOF0..SOF15 carry frame dimensions, except DHT/JPG/DAC which reuse
# the 0xC4/0xC8/0xCC slots
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _jpeg_dims(b: bytes) -> tuple[int, int, int | None]:
    pos = 2  # past SOI
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in _JPEG_SOF:
            if pos + 9 > len(b):
                break
            h, w = struct.unpack_from(">HH", b, pos + 5)
            return w, h, None
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone marker, no length
            continue
        seg_len = struct.unpack_from(">H", b, pos + 2)[0]
        pos += 2 + seg_len
    raise ValueError("no JPEG SOF marker found")


def _bmp_dims(b: bytes) -> tuple[int, int, int | None]:
    if len(b) < 26:
        raise ValueError("truncated BMP header")
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size == 12:  # BITMAPCOREHEADER: uint16 dims
        w, h = struct.unpack_from("<HH", b, 18)
    else:  # BITMAPINFOHEADER+: int32 dims, height <0 = top-down
        w, h = struct.unpack_from("<ii", b, 18)
    return w, abs(h), None


def _tiff_dims(b: bytes) -> tuple[int, int, int | None]:
    """TIFF header walk (TIFF 6.0 §2, public spec): endian marker + magic
    42, then the first IFD's 12-byte entries scanned for ImageWidth(256)
    / ImageLength(257) with inline SHORT/LONG values. Header-only and
    bounded — the entry count is capped and every read is range-checked,
    so a crafted offset is a per-row error, never a crash."""
    if len(b) < 8:
        raise ValueError("truncated TIFF header")
    if b[:2] == b"II":
        endian = "<"
    elif b[:2] == b"MM":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload")
    if struct.unpack_from(endian + "H", b, 2)[0] != 42:
        raise ValueError("bad TIFF magic number")
    ifd = struct.unpack_from(endian + "I", b, 4)[0]
    if ifd + 2 > len(b):
        raise ValueError("TIFF IFD offset out of range")
    n = struct.unpack_from(endian + "H", b, ifd)[0]
    if n > 4096:
        raise ValueError("implausible TIFF IFD entry count")
    w = h = None
    for i in range(n):
        e = ifd + 2 + 12 * i
        if e + 12 > len(b):
            break
        tag, typ = struct.unpack_from(endian + "HH", b, e)
        if tag not in (256, 257):
            continue
        if typ == 3:      # SHORT, left-justified in the value field
            val = struct.unpack_from(endian + "H", b, e + 8)[0]
        elif typ == 4:    # LONG
            val = struct.unpack_from(endian + "I", b, e + 8)[0]
        else:
            continue
        if tag == 256:
            w = val
        else:
            h = val
    if w is None or h is None:
        raise ValueError("TIFF IFD missing ImageWidth/ImageLength")
    return (_sane(w, _MAX_DIM, "width"), _sane(h, _MAX_DIM, "height"),
            None)


_SNIFFERS = (
    (b"\x89PNG\r\n\x1a\n", _png_dims),
    (b"GIF87a", _gif_dims),
    (b"GIF89a", _gif_dims),
    (b"\xff\xd8", _jpeg_dims),
    (b"BM", _bmp_dims),
    (b"II*\x00", _tiff_dims),
    (b"MM\x00*", _tiff_dims),
)


# sanity caps for untrusted container-header values: anything beyond
# these is a corrupt/crafted file, rejected as a per-row error BEFORE
# the value can overflow an IntegerType column (which would fail the
# whole Arrow batch, violating the per-row-error contract)
_MAX_DIM = 1 << 20            # 1M px per side
_MAX_SAMPLE_RATE = 10_000_000
_MAX_FRAMES = (1 << 31) - 1


def _sane(value: int, cap: int, what: str) -> int:
    if value > cap:
        raise ValueError(f"implausible {what} {value} in media header")
    return value


def _wav_info(b: bytes) -> tuple[dict, int, int, int]:
    """RIFF/WAVE header walk → ((sample_rate, n_samples, duration_ms,
    n_channels fields), data_offset, data_size, block_align). Header-only
    work bounded by the payload length — no inflation, no bomb risk.
    PCM frame count = data bytes // block_align (one frame = one sample
    across all channels, the WAV spec's unit)."""
    if len(b) < 12 or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data_off, data_size = 12, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(b):
            _afmt, nch, rate, _brate, balign, _bits = \
                struct.unpack_from("<HHIIHH", b, pos + 8)
            fmt = (nch, rate, balign)
        elif cid == b"data":
            data_off, data_size = pos + 8, size
        pos += 8 + size + (size & 1)  # chunks pad to even
    if fmt is None or data_off is None:
        raise ValueError("WAV missing fmt/data chunk")
    nch, rate, balign = fmt
    if rate <= 0 or balign <= 0:
        raise ValueError("WAV invalid sample rate / block align")
    _sane(rate, _MAX_SAMPLE_RATE, "sample rate")
    data_size = min(data_size, len(b) - data_off)  # truncated payloads
    n_samples = data_size // balign
    info = {"sample_rate": rate, "n_samples": n_samples,
            "duration_ms": n_samples * 1000 // rate}
    return info, data_off, data_size, balign


def _webp_info(b: bytes) -> dict:
    """RIFF/WEBP header walk (WebP container spec + VP8/VP8L bitstream
    headers): width/height from the first image chunk, n_frames from
    ANMF chunks when the VP8X animation flag is set. Covers the three
    container layouts of the modern crawl image mix — 'VP8 ' (lossy:
    sync code 9D 01 2A then 14-bit dims), 'VP8L' (lossless: 0x2F
    signature then packed 14-bit dims-minus-one) and 'VP8X' (extended:
    24-bit canvas dims-minus-one). Header-only, bounded by the payload
    length; pixel decode stays behind the ``decoder=`` seam like the
    other native codecs."""
    if len(b) < 12 or b[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP payload")
    pos, out, animated = 12, None, False
    n_anmf = 0
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        p = b[pos + 8:pos + 8 + size]
        if cid == b"VP8X" and len(p) >= 10:
            animated = bool(p[0] & 0x02)
            w = 1 + int.from_bytes(p[4:7], "little")
            h = 1 + int.from_bytes(p[7:10], "little")
            if out is None:
                out = {"width": _sane(w, _MAX_DIM, "width"),
                       "height": _sane(h, _MAX_DIM, "height"),
                       "n_frames": 1}
        elif cid == b"VP8 " and len(p) >= 10:
            if p[3:6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 chunk missing frame sync code")
            w = (p[6] | p[7] << 8) & 0x3FFF
            h = (p[8] | p[9] << 8) & 0x3FFF
            out = {"width": _sane(w, _MAX_DIM, "width"),
                   "height": _sane(h, _MAX_DIM, "height"), "n_frames": 1}
            break  # still image: first image chunk is authoritative
        elif cid == b"VP8L" and len(p) >= 5:
            if p[0] != 0x2F:
                raise ValueError("VP8L chunk missing signature byte")
            bits = int.from_bytes(p[1:5], "little")
            out = {"width": _sane((bits & 0x3FFF) + 1, _MAX_DIM, "width"),
                   "height": _sane(((bits >> 14) & 0x3FFF) + 1,
                                   _MAX_DIM, "height"), "n_frames": 1}
            break
        elif cid == b"ANMF":
            n_anmf += 1
        pos += 8 + size + (size & 1)  # chunks pad to even
    if out is None:
        raise ValueError("WEBP missing VP8/VP8L/VP8X image chunk")
    if animated:
        out["n_frames"] = _sane(max(n_anmf, 1), _MAX_FRAMES, "frame count")
    return out


def _avi_info(b: bytes) -> dict:
    """RIFF/AVI main-header walk (the 'avih' chunk inside LIST/hdrl):
    width/height, total frame count and duration from the per-frame
    interval. Header-only, bounded."""
    if len(b) < 12 or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    pos = 12
    while pos + 12 <= len(b):
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"LIST" and b[pos + 8:pos + 12] == b"hdrl":
            inner, end = pos + 12, min(pos + 8 + size, len(b))
            while inner + 8 <= end:
                icid = b[inner:inner + 4]
                isize = struct.unpack_from("<I", b, inner + 4)[0]
                if icid == b"avih" and inner + 48 <= len(b):
                    d = inner + 8  # MainAVIHeader layout
                    us_per_frame = struct.unpack_from("<I", b, d)[0]
                    n_frames = struct.unpack_from("<I", b, d + 16)[0]
                    w, h = struct.unpack_from("<II", b, d + 32)
                    return {"width": _sane(w, _MAX_DIM, "width"),
                            "height": _sane(h, _MAX_DIM, "height"),
                            "n_frames": _sane(max(n_frames, 1),
                                              _MAX_FRAMES, "frame count"),
                            "duration_ms":
                                n_frames * us_per_frame // 1000}
                inner += 8 + isize + (isize & 1)
        pos += 8 + size + (size & 1)
    raise ValueError("AVI missing avih header")


# MPEG audio (MP3) header tables — Layer III only, the web's dominant
# audio format. Bitrates in kbps by (is_mpeg1, bitrate_index); sample
# rates by (version_bits, samplerate_index).
_MP3_BITRATES_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                    224, 256, 320)
_MP3_BITRATES_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                    144, 160)
_MP3_RATES = {3: (44100, 48000, 32000),    # MPEG1
              2: (22050, 24000, 16000),    # MPEG2
              0: (11025, 12000, 8000)}     # MPEG2.5


def _mp3_info(b: bytes) -> dict:
    """MP3 frame-header walk: skip an ID3v2 tag, then step frame to
    frame summing samples (1152 per MPEG1 Layer-III frame, 576 for
    MPEG2/2.5). Pure header math bounded by the payload length — no
    entropy decode. Total = frames seen until the sync pattern ends."""
    pos = 0
    if b.startswith(b"ID3") and len(b) >= 10:
        # ID3v2 size is 4 synchsafe (7-bit) bytes
        size = ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
        pos = 10 + size
    n_frames = n_samples = 0
    rate = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
            break
        version = (b[pos + 1] >> 3) & 0x03   # 3=MPEG1 2=MPEG2 0=MPEG2.5
        layer = (b[pos + 1] >> 1) & 0x03     # 1 = Layer III
        br_idx = (b[pos + 2] >> 4) & 0x0F
        sr_idx = (b[pos + 2] >> 2) & 0x03
        padding = (b[pos + 2] >> 1) & 0x01
        if (version == 1 or layer != 1 or br_idx in (0, 15)
                or sr_idx == 3):
            raise ValueError("unsupported MPEG audio frame "
                             f"(version={version} layer={layer})")
        mpeg1 = version == 3
        bitrate = (_MP3_BITRATES_V1 if mpeg1
                   else _MP3_BITRATES_V2)[br_idx] * 1000
        rate = _MP3_RATES[version][sr_idx]
        spf = 1152 if mpeg1 else 576
        frame_len = spf // 8 * bitrate // rate + padding
        if frame_len <= 4:
            raise ValueError("degenerate MPEG audio frame")
        n_frames += 1
        n_samples += spf
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no MPEG audio frames found")
    return {"sample_rate": rate, "n_samples": n_samples,
            "duration_ms": n_samples * 1000 // rate}


def _mp4_find(b: bytes, lo: int, hi: int, path: tuple[bytes, ...]):
    """ISO-BMFF box walk: return (data_lo, data_hi) of the first box at
    ``path`` (e.g. (b'moov', b'mvhd')) inside [lo, hi), or None."""
    want, rest = path[0], path[1:]
    pos = lo
    while pos + 8 <= hi:
        size = struct.unpack_from(">I", b, pos)[0]
        btype = b[pos + 4:pos + 8]
        data = pos + 8
        if size == 1 and pos + 16 <= hi:       # 64-bit largesize
            size = struct.unpack_from(">Q", b, pos + 8)[0]
            data = pos + 16
        if size == 0:                          # box runs to end
            size = hi - pos
        if size < 8:
            raise ValueError("bad MP4 box size")
        end = min(pos + size, hi)
        if btype == want:
            if not rest:
                return data, end
            found = _mp4_find(b, data, end, rest)
            if found is not None:
                return found
        pos += size
    return None


def _mp4_info(b: bytes) -> dict:
    """MP4 (ISO base media) header walk: mvhd → timescale/duration,
    video trak tkhd → dims (16.16 fixed point), stsz → sample (frame)
    count. Header-only, bounded."""
    mv = _mp4_find(b, 0, len(b), (b"moov", b"mvhd"))
    if mv is None:
        raise ValueError("MP4 missing moov/mvhd")
    lo, _ = mv
    ver = b[lo]
    if ver == 1:
        timescale = struct.unpack_from(">I", b, lo + 20)[0]
        duration = struct.unpack_from(">Q", b, lo + 24)[0]
    else:
        timescale, duration = struct.unpack_from(">II", b, lo + 12)
    if timescale <= 0:
        raise ValueError("MP4 invalid timescale")
    out = {"duration_ms": duration * 1000 // timescale}
    tk = _mp4_find(b, 0, len(b), (b"moov", b"trak", b"tkhd"))
    if tk is not None:
        tlo, tend = tk
        woff = tlo + (88 if b[tlo] == 1 else 76)
        if woff + 8 <= tend:
            wfx, hfx = struct.unpack_from(">II", b, woff)
            if wfx and hfx:
                out["width"] = _sane(wfx >> 16, _MAX_DIM, "width")
                out["height"] = _sane(hfx >> 16, _MAX_DIM, "height")
    st = _mp4_find(b, 0, len(b),
                   (b"moov", b"trak", b"mdia", b"minf", b"stbl", b"stsz"))
    if st is not None:
        slo, send = st
        if slo + 12 <= send:
            out["n_frames"] = _sane(
                max(struct.unpack_from(">I", b, slo + 8)[0], 1),
                _MAX_FRAMES, "frame count")
    return out


# ISO-BMFF brands whose dims live in meta/iprp/ipco/ispe instead of a
# movie box: AVIF stills/sequences and their HEIF siblings
_ISPE_BRANDS = (b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1")


def _avif_info(b: bytes) -> dict:
    """AVIF/HEIF still-image dims (ISO/IEC 23008-12 §6.5.3): the ispe
    ImageSpatialExtentsProperty under meta→iprp→ipco carries version/
    flags + width/height u32. Reuses the ISO-BMFF box walker; ``meta``
    is a FullBox, so its children start 4 bytes into the payload.
    Header-only, bounded like the MP4 walk."""
    meta = _mp4_find(b, 0, len(b), (b"meta",))
    if meta is None:
        raise ValueError("AVIF missing meta box")
    lo, hi = meta
    ispe = _mp4_find(b, lo + 4, hi, (b"iprp", b"ipco", b"ispe"))
    if ispe is None or ispe[0] + 12 > ispe[1]:
        raise ValueError("AVIF missing ispe property")
    w, h = struct.unpack_from(">II", b, ispe[0] + 4)
    return {"width": _sane(w, _MAX_DIM, "width"),
            "height": _sane(h, _MAX_DIM, "height"),
            "n_frames": 1}


def _real_decode(payload: bytes, kind: str) -> dict:
    """Header-level decode by magic-byte sniffing (container format wins
    over the declared ``kind``). Unknown containers raise ValueError,
    which the batch wrapper captures as a per-row ``error``."""
    base = {
        "n_bytes": len(payload),
        "digest": hashlib.md5(payload).hexdigest(),
        "width": None, "height": None, "n_frames": None,
        "sample_rate": None, "n_samples": None, "duration_ms": None,
    }
    if payload.startswith(b"RIFF"):
        sub = payload[8:12]
        if sub == b"WAVE":
            base.update(_wav_info(payload)[0])
            return base
        if sub == b"AVI ":
            base.update(_avi_info(payload))
            return base
        if sub == b"WEBP":
            base.update(_webp_info(payload))
            return base
        raise ValueError(f"unsupported RIFF subtype {sub!r}")
    for magic, parse in _SNIFFERS:
        if payload.startswith(magic):
            w, h, frames = parse(payload)
            base.update({"width": w, "height": h, "n_frames": frames})
            return base
    if payload[4:8] == b"ftyp":                # MP4 / ISO-BMFF
        if payload[8:12] in _ISPE_BRANDS:      # AVIF/HEIF image, no moov
            base.update(_avif_info(payload))
        else:
            base.update(_mp4_info(payload))
        return base
    if payload.startswith(b"ID3") or (
            len(payload) >= 2 and payload[0] == 0xFF
            and payload[1] & 0xE0 == 0xE0):    # MPEG audio (after JPEG)
        base.update(_mp3_info(payload))
        return base
    raise ValueError("unsupported media container (no known magic bytes)")


def _nn_resize(pix: bytes, w: int, h: int, nch: int,
               tw: int, th: int) -> bytes:
    """Nearest-neighbor resample (vectorized numpy fancy-indexing)."""
    import numpy as np

    arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, nch)
    ys = (np.arange(th, dtype=np.int64) * h) // th
    xs = (np.arange(tw, dtype=np.int64) * w) // tw
    return arr[ys][:, xs].tobytes()


def make_media_batches(backend: str = "fake"):
    """mapInPandas function over (media_id:int64, payload:binary,
    kind:string) → MEDIA_FEATURES_SCHEMA rows. Errors are captured
    per-row, never raised (same totality contract as the extractor)."""
    decode = _fake_decode if backend == "fake" else _real_decode

    @drops_zip_finders
    def media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for mid, payload, kind in zip(
                batch["media_id"], batch["payload"], batch["kind"]
            ):
                row = {"media_id": mid, "kind": kind, "n_bytes": None,
                       "digest": None, "width": None, "height": None,
                       "n_frames": None, "sample_rate": None,
                       "n_samples": None, "duration_ms": None,
                       "error": None}
                try:
                    if payload is None:
                        row["error"] = "null payload"
                    else:
                        row.update(decode(bytes(payload), kind))
                except Exception as exc:
                    row["error"] = f"{type(exc).__name__}: {exc}"
                rows.append(row)
            yield pd.DataFrame.from_records(rows)

    return media_batches


def media_features(media: DataFrame, backend: str = "fake") -> DataFrame:
    """(media_id, payload, kind) → typed feature rows via Arrow batches."""
    slim = media.select("media_id", "payload", "kind")
    return slim.mapInPandas(make_media_batches(backend), MEDIA_FEATURES_SCHEMA)


MEDIA_TRANSFORM_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), True),
    StructField("op", StringType(), False),
    StructField("width", IntegerType(), True),      # post-transform dims
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),   # post-sample count
    StructField("digest", StringType(), True),      # transformed content id
    StructField("error", StringType(), True),
])


def media_transform(media: DataFrame, op: str,
                    width: int | None = None, height: int | None = None,
                    frame_every: int | None = None,
                    sample_every: int | None = None,
                    backend: str = "fake",
                    decoder=None) -> DataFrame:
    """Media transform plumbing over Arrow batches: ``op`` is ``resize``
    (target width×height, aspect ignored), ``frame_sample`` (keep every
    ``frame_every``-th frame of a video/animation), or ``pcm_sample``
    (keep every ``sample_every``-th PCM frame of an audio payload — the
    audio analog of frame_sample; real backend decodes RIFF/WAVE, digest
    = md5 of the strided PCM bytes, ``n_frames`` = samples kept).

    ``backend="fake"`` applies the transform to the md5-derived fake
    decode: output dims are the clamped targets, sampled frame count is
    ``ceil(n/frame_every)``, and the content digest is
    ``md5(src_digest || ':' || op spec)`` — deterministic and exactly
    SQL-mirrorable, so the batching/partitioning/schema plumbing is
    oracle-checked end to end. ``backend="real"`` parses the container
    header (unknown containers are per-row errors); ``frame_sample``
    uses the real GIF frame walk, with the Spark-side plumbing
    identical between backends.

    ``decoder``: callable ``payload -> (w, h, channels, raw_pixels)``,
    the seam for a native codec (e.g. PIL / libjpeg-turbo). Real-backend
    ``resize`` decodes through it and resamples nearest-neighbor — the
    digest is the md5 of the resized raw pixel bytes; without a
    ``decoder`` every resize row is an error that names this hook. Its
    exceptions follow the same per-row error contract. Ignored by the
    fake backend.
    """
    if op == "resize":
        if not width or not height:
            raise ValueError("resize requires width and height")
        spec = f"resize:{width}x{height}"
    elif op == "frame_sample":
        if not frame_every or frame_every < 1:
            raise ValueError("frame_sample requires frame_every >= 1")
        spec = f"frame_sample:{frame_every}"
    elif op == "pcm_sample":
        if not sample_every or sample_every < 1:
            raise ValueError("pcm_sample requires sample_every >= 1")
        spec = f"pcm_sample:{sample_every}"
    else:
        raise ValueError(f"unknown media op {op!r}")
    decode = _fake_decode if backend == "fake" else _real_decode

    def clamp(x: int) -> int:
        return max(1, min(int(x), 8192))

    @drops_zip_finders
    def transform_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        rows = []
        for batch in batches:
            for mid, payload, kind in zip(
                batch["media_id"], batch["payload"], batch["kind"]
            ):
                row = {"media_id": mid, "kind": kind, "op": op,
                       "width": None, "height": None, "n_frames": None,
                       "digest": None, "error": None}
                try:
                    if payload is None:
                        row["error"] = "null payload"
                    else:
                        pb = bytes(payload)
                        src = decode(pb, kind)
                        if backend != "fake" and op == "resize":
                            # real pixel stage: the injected ``decoder``
                            # (native codec) + nearest-neighbor resample;
                            # digest is the md5 of the RESIZED raw pixels
                            if decoder is None:
                                raise NotImplementedError(
                                    "real-backend resize decodes pixels"
                                    " only through a codec: pass decoder=")
                            w0, h0, nch, pix = decoder(pb)
                            tw, th = clamp(width), clamp(height)
                            row["width"], row["height"] = tw, th
                            row["n_frames"] = src["n_frames"]
                            row["digest"] = hashlib.md5(
                                _nn_resize(pix, w0, h0, nch, tw, th)
                            ).hexdigest()
                        elif op == "resize":
                            row["width"] = clamp(width)
                            row["height"] = clamp(height)
                            row["n_frames"] = src["n_frames"]
                            row["digest"] = hashlib.md5(
                                f"{src['digest']}:{spec}".encode()
                            ).hexdigest()
                        elif op == "pcm_sample" and backend != "fake":
                            # real: stride the RIFF/WAVE PCM frame
                            # stream (one frame = block_align bytes);
                            # non-WAV payloads error per-row
                            import numpy as np

                            _, off, dsize, balign = _wav_info(pb)
                            n = dsize // balign
                            kept = np.frombuffer(
                                pb[off:off + n * balign], dtype=np.uint8
                            ).reshape(n, balign)[::sample_every]
                            row["n_frames"] = int(kept.shape[0])
                            row["digest"] = hashlib.md5(
                                kept.tobytes()).hexdigest()
                        elif op == "pcm_sample":
                            n = src["n_samples"]
                            row["n_frames"] = (
                                math.ceil(n / sample_every)
                                if n is not None else None)
                            row["digest"] = hashlib.md5(
                                f"{src['digest']}:{spec}".encode()
                            ).hexdigest()
                        else:
                            # frame_sample: real backend already walked
                            # the actual GIF frame stream via decode()
                            row["width"] = src["width"]
                            row["height"] = src["height"]
                            n = src["n_frames"]
                            row["n_frames"] = (
                                math.ceil(n / frame_every)
                                if n is not None else None)
                            row["digest"] = hashlib.md5(
                                f"{src['digest']}:{spec}".encode()
                            ).hexdigest()
                except Exception as exc:
                    row["error"] = f"{type(exc).__name__}: {exc}"
                rows.append(row)
            yield pd.DataFrame.from_records(rows)
            rows = []

    slim = media.select("media_id", "payload", "kind")
    return slim.mapInPandas(transform_batches, MEDIA_TRANSFORM_SCHEMA)


PDF_MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),   # doc_id * 64 + index
    StructField("doc_id", LongType(), False),
    StructField("image_index", IntegerType(), False),
    StructField("payload", BinaryType(), True),   # the raw JPEG bytes
    StructField("kind", StringType(), False),     # constant 'image'
])


def pdf_media_table(pdfs: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "payload",
                    max_images_per_doc: int = 64) -> DataFrame:
    """PDF rows → one row per embedded DCT (JPEG) image.

    The crawl-pipeline bridge between the document path and the media
    path: :func:`webextract.pdf_extract.pdf_images` peels transport
    filters (ASCIIHex/85, Flate) off ``/DCTDecode`` XObject streams and
    yields the raw JPEG bytes, which this op emits in
    :func:`media_features`-ready shape (``media_id`` = doc_id × 64 +
    image index, ``kind='image'``). mapInPandas (Arrow batches), per-doc
    totality: a corrupt PDF contributes zero rows, never a task failure;
    image count per doc is capped (bomb guard — a crafted PDF with
    thousands of tiny streams can't blow up a batch).
    """
    if not 0 < max_images_per_doc <= 64:
        # media_id = doc_id * 64 + index: a cap past the stride would
        # collide doc N's image 64 with doc N+1's image 0
        raise ValueError("max_images_per_doc must be in 1..64")

    @drops_zip_finders
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from webextract.pdf_extract import pdf_images

        for batch in it:
            rows = []
            for did, payload in zip(batch[id_col], batch[payload_col]):
                if payload is None:
                    continue
                try:
                    images = pdf_images(bytes(payload))
                except Exception:
                    continue  # corrupt container: skip the doc
                for j, img in enumerate(images[:max_images_per_doc]):
                    rows.append({"media_id": int(did) * 64 + j,
                                 "doc_id": int(did), "image_index": j,
                                 "payload": img, "kind": "image"})
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in PDF_MEDIA_SCHEMA.fields])

    return pdfs.select(F.col(id_col).alias(id_col),
                       F.col(payload_col).alias(payload_col)) \
        .mapInPandas(batches, PDF_MEDIA_SCHEMA)
