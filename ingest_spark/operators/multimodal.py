"""Multimodal columns: binary media + typed metadata, with REAL codecs
for the uncompressed formats.

Images/audio/video are ``binary`` columns with a typed metadata
struct. The codec layer:

- **BMP (24-bit BI_RGB) and PPM (P6)**: real pure-numpy decode/encode
  (`bmp_decode`/`bmp_encode`/`ppm_decode`/`ppm_encode`) — these
  formats are struct arithmetic only, no imaging library needed.
  `synthetic_media` emits VALID BMP payloads whose pixels follow a
  closed-form pattern, so decode is pixel-exact-verifiable against a
  SQL oracle (`multimodal_decode_pixels` contract query).
- **WAV (PCM16 mono + compressed, round 6)**: real pure-numpy
  decode/encode (`wav_decode`/`wav_encode`) dispatching on the fmt
  tag: PCM16 (tag 1), G.711 A-law/mu-law (tags 6/7) and IMA ADPCM
  (tag 0x11) via `functions/audio.py`; `synthetic_media` audio rows
  are valid PCM WAV with closed-form samples
  (`multimodal_audio_decode` query) and `synthetic_codec_audio` rows
  rotate the three compressed encodings
  (`multimodal_audio_codecs` query, exact container-byte oracle).
- **AVI ('DIB ' uncompressed + Motion-JPEG, round 6)**: real
  pure-numpy container codec (`avi_encode`/`avi_decode` — RIFF chunk
  tree, keyframe index) with two frame codecs: raw bottom-up-BGR
  '00db' DIB frames (byte-exact; `synthetic_media` video rows,
  `multimodal_video_decode` query) and 'MJPG' '00dc' chunks, each an
  independent baseline T.81 stream through `functions/jpeg.py`
  (`synthetic_mjpeg_media` rows, `multimodal_mjpeg_decode` query).
  The round-<=4 opaque video blob stub is gone.
- **PNG (8-bit truecolor, round 6)**: a REAL compressed codec with no
  imaging library — DEFLATE via stdlib ``zlib``, CRC-verified chunk
  walk, and all five published scanline filters inverted
  (`png_encode`/`png_decode`). `synthetic_media` ships half its image
  rows as valid PNGs rotating through the filter types, so the
  pixel-exact contract oracles pin this decoder cross-engine too.
- **JPEG (baseline JFIF, round 6)**: a REAL entropy-coded codec with
  no imaging library — `functions/jpeg.py` implements the public
  ITU-T T.81 baseline process (Annex-K tables, canonical Huffman,
  restart markers, batched orthonormal IDCT, 4:4:4/4:2:2/4:2:0).
  Lossy, so the contract oracle pins shape exactly and pixel values
  by closed-form tolerance (`multimodal_compressed_decode`).
- **GIF (87a/89a, round 6)**: a REAL LZW codec — `functions/gif.py`
  (variable-width codes, clear/EOI, 12-bit growth + dictionary reset,
  interlace, local color tables). Lossless for ≤256-color frames, so
  the contract query asserts exact pixel equality.
- **FLAC (round 6)**: a full lossless codec — `functions/flac.py`
  (STREAMINFO + sample MD5, CRC-8/16-protected frames, fixed-predictor
  rice encoder; the decoder also inverts LPC subframes, RICE2/escape
  partitions, wasted bits, and stereo decorrelation). Lossless, so
  `multimodal_flac_decode` pins decode sample-exactly via closed-form
  SQL sums.
- **Remaining compressed formats (MP3/MP4/H.264)**: gated behind an
  import-try on PIL (absent in this container) with the deterministic
  fake decoder as the tested fallback — psychoacoustic/motion-
  compensated codec support is the honest environmental gap, not a
  semantic stub. Every non-predictive mainstream container/codec
  (JPEG incl. progressive, PNG, GIF, BMP/PPM, WAV PCM/G.711/ADPCM,
  FLAC, AVI DIB/MJPEG) is native.

``resize`` / ``frame_sample`` / ``feature_extract`` operate on the
decoded tensor representation with correct Arrow batch semantics
under ``mapInPandas``.

Media rows are large; Arrow batches are bounded by record count
(``spark.sql.execution.arrow.maxRecordsPerBatch`` in ``session.py``).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("content", BinaryType(), False),      # opaque encoded bytes
    StructField("mime", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("n_bytes", LongType(), False),
])

try:  # pragma: no cover — not installed in this container
    from PIL import Image as _PIL  # type: ignore
    HAVE_PIL = True
except ImportError:
    _PIL = None
    HAVE_PIL = False

from ingest_spark.functions import gif as _gif
from ingest_spark.functions import jpeg as _jpeg
from ingest_spark.functions import webp as _webp
from ingest_spark.operators.partitioning import kernel_partitions


# --------------------------------------------------- pure-numpy codecs

def bmp_encode(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP (BI_RGB) bytes
    (BITMAPINFOHEADER; bottom-up rows, BGR order, 4-byte row padding —
    the published format layout)."""
    h, w, _ = rgb.shape
    pad = (4 - (w * 3) % 4) % 4
    row_size = w * 3 + pad
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                      2835, 2835, 0, 0)
    bgr = rgb[::-1, :, ::-1]
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + dib + rows.tobytes()


def bmp_decode(data: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP bytes → (h, w, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", data, 10)
    hsz, w, hh, planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp} comp={comp})")
    flip = hh > 0
    h = abs(hh)
    pad = (4 - (w * 3) % 4) % 4
    row = w * 3 + pad
    arr = (
        np.frombuffer(data, np.uint8, row * h, off)
        .reshape(h, row)[:, : w * 3]
        .reshape(h, w, 3)
    )
    if flip:
        arr = arr[::-1]
    return arr[:, :, ::-1].copy()  # BGR → RGB


def _dib_frame(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → raw DIB frame bytes (bottom-up BGR rows,
    4-byte padding — the same row layout BMP uses, shared by AVI
    '00db' chunks)."""
    h, w, _ = rgb.shape
    pad = (4 - (w * 3) % 4) % 4
    row_size = w * 3 + pad
    bgr = rgb[::-1, :, ::-1]
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return rows.tobytes()


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def avi_encode(frames: np.ndarray, fps: int = 1, codec: str = "dib",
               quality: int = 90, subsample: bool = False) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → minimal VALID AVI (RIFF 'AVI ':
    avih + one 'vids' stream, frames in 'movi', keyframe 'idx1') — the
    published RIFF/AVI layout; files written this way open in standard
    players/ffmpeg.

    ``codec="dib"`` emits raw bottom-up-BGR '00db' DIB frames
    (uncompressed, byte-exact). ``codec="mjpg"`` emits Motion-JPEG:
    each frame an independent baseline T.81 stream from the native
    `functions/jpeg.py` encoder in a '00dc' chunk, biCompression
    'MJPG' — every frame a keyframe, which is exactly why MJPEG is the
    splittable video format for corpus-scale pipelines."""
    n, h, w, _ = frames.shape
    if codec == "dib":
        pad = (4 - (w * 3) % 4) % 4
        frame_size = (w * 3 + pad) * h
        payloads = [_dib_frame(frames[i]) for i in range(n)]
        fcc, comp, cnk = b"DIB ", 0, b"00db"
        buf_size = frame_size
    elif codec == "mjpg":
        payloads = [
            _jpeg.encode(frames[i], quality=quality, subsample=subsample)
            for i in range(n)
        ]
        fcc, comp, cnk = b"MJPG", _MJPG_FOURCC, b"00dc"
        frame_size = 0  # variable; biSizeImage is advisory for MJPG
        buf_size = max(len(p) for p in payloads)
    else:
        raise ValueError(f"unknown avi codec {codec!r}")
    avih = b"avih" + struct.pack(
        "<I14I", 56,
        1_000_000 // fps, buf_size * fps, 0, 0x10,  # HASINDEX
        n, 0, 1, buf_size, w, h, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIiI4h", 56,
        b"vids", fcc, 0, 0, 0, 0, 1, fps, 0, n, buf_size, -1, 0,
        0, 0, w, h,
    )
    strf = b"strf" + struct.pack(
        "<IIiiHHIIiiII", 40, 40, w, h, 1, 24, comp, frame_size, 0, 0, 0, 0
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    chunks, offsets, off = [], [], 4
    for p in payloads:
        chunks.append(cnk + struct.pack("<I", len(p)) + p
                      + (b"\x00" * (len(p) & 1)))
        offsets.append(off)
        off += len(chunks[-1])
    movi_body = b"".join(chunks)
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    idx_body = b"".join(
        struct.pack("<4sIII", cnk, 0x10, offsets[i], len(payloads[i]))
        for i in range(n)
    )
    idx1 = b"idx1" + struct.pack("<I", len(idx_body)) + idx_body
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_decode(data: bytes) -> "tuple[int, np.ndarray]":
    """AVI bytes → (fps, (n, h, w, 3) uint8 RGB frames). Walks the
    RIFF chunk tree; decodes uncompressed 24-bit 'DIB ' streams
    natively and Motion-JPEG ('MJPG') streams through the native T.81
    decoder, one independent JPEG per '00dc' chunk."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI payload")
    w = h = comp = None
    scale, rate = 1, 1
    frames = []

    def walk(pos, end):
        nonlocal w, h, comp, scale, rate
        while pos + 8 <= end:
            cid = data[pos: pos + 4]
            (sz,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + sz)
            elif cid == b"strh":
                fcc, _hdl, _fl, _pr, _la, _init, scale, rate = struct.unpack_from(
                    "<4s4sIHHIII", data, body
                )
                if fcc != b"vids":
                    raise ValueError("first stream is not video")
            elif cid == b"strf":
                _bs, w, h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", data, body
                )
                if comp not in (0, _MJPG_FOURCC) or (comp == 0 and bpp != 24):
                    raise ValueError(
                        f"only 24-bit BI_RGB or MJPG streams supported "
                        f"(bpp={bpp} comp={comp})"
                    )
            elif cid in (b"00db", b"00dc"):
                frames.append((body, sz))
            pos = body + sz + (sz & 1)

    walk(12, len(data))
    if w is None or not frames:
        raise ValueError("missing strf/frames")
    out = np.zeros((len(frames), h, w, 3), dtype=np.uint8)
    if comp == _MJPG_FOURCC:
        for i, (off, sz) in enumerate(frames):
            px = _jpeg.decode(data[off: off + sz])
            if px.shape[:2] != (h, w):
                raise ValueError("MJPG frame dims disagree with strf")
            out[i] = px
    else:
        pad = (4 - (w * 3) % 4) % 4
        row = w * 3 + pad
        for i, (off, sz) in enumerate(frames):
            arr = (
                np.frombuffer(data, np.uint8, row * h, off)
                .reshape(h, row)[:, : w * 3]
                .reshape(h, w, 3)
            )
            out[i] = arr[::-1, :, ::-1]  # bottom-up BGR → top-down RGB
    fps = max(1, rate // max(scale, 1))
    return fps, out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (published PNG spec §9, filter type 4),
    vectorized: a=left, b=up, c=upper-left (int arrays)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def png_encode(rgb: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → VALID 8-bit truecolor PNG, built from the
    published spec with stdlib zlib only (DEFLATE IDAT, CRC32 chunks,
    one filter byte per scanline). ``filter_type`` 0-4 selects the
    per-scanline filter so every decoder unfilter path is testable
    from in-repo bytes; real-world encoders pick adaptively, which the
    decoder handles per scanline regardless."""
    import zlib

    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("PNG filter type must be 0-4")
    rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    zero = np.zeros((1, 3), np.int16)
    lines = []
    for y in range(h):
        cur = rgb[y].astype(np.int16)
        up = rgb[y - 1].astype(np.int16) if y else np.zeros((w, 3), np.int16)
        left = np.vstack([zero, cur[:-1]])
        ul = np.vstack([zero, up[:-1]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - up
        elif filter_type == 3:
            filt = cur - (left + up) // 2
        else:
            filt = cur - _png_paeth(left, up, ul)
        lines.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes())
    idat = zlib.compress(b"".join(lines), 6)

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """VALID PNG → (h, w, 3) uint8 RGB, pure stdlib-zlib + numpy: walks
    the chunk stream (CRC-verified), inflates IDAT, and inverts all
    five published scanline filters (None/Sub/Up/Average/Paeth).
    Supports non-interlaced 8-bit truecolor (color type 2) and
    truecolor+alpha (6 — alpha dropped), the layouts that dominate web
    PNGs; other bit depths / palettes raise rather than guess. Sub
    rows invert via a per-channel cumulative sum; Average/Paeth rows
    carry a genuine pixel-serial dependence and run a per-pixel loop
    on just those scanlines."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    w = h = color_type = None
    while pos + 12 <= len(data):
        ln = int.from_bytes(data[pos:pos + 4], "big")
        typ = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        crc = int.from_bytes(data[pos + 8 + ln:pos + 12 + ln], "big")
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or color_type not in (2, 6) or interlace:
                raise NotImplementedError(
                    "png_decode supports non-interlaced 8-bit RGB/RGBA"
                )
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG without IHDR")
    ch = 3 if color_type == 2 else 4
    raw = zlib.decompress(bytes(idat))
    stride = w * ch + 1
    if len(raw) != h * stride:
        raise ValueError("PNG IDAT size mismatch")
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride)
    ftypes = arr[:, 0]
    filt = arr[:, 1:].reshape(h, w, ch).astype(np.int64)
    recon = np.zeros((h, w, ch), dtype=np.int64)
    for y in range(h):
        f = int(ftypes[y])
        cur = filt[y]
        up = recon[y - 1] if y else np.zeros((w, ch), dtype=np.int64)
        if f == 0:
            recon[y] = cur
        elif f == 1:  # Sub: recon[x] = filt[x] + recon[x-1]
            recon[y] = np.cumsum(cur, axis=0) & 0xFF
        elif f == 2:  # Up
            recon[y] = (cur + up) & 0xFF
        elif f == 3:  # Average — serial in x
            row = recon[y]
            prev = np.zeros(ch, dtype=np.int64)
            for x in range(w):
                prev = (cur[x] + (prev + up[x]) // 2) & 0xFF
                row[x] = prev
        elif f == 4:  # Paeth — serial in x
            row = recon[y]
            prev = np.zeros(ch, dtype=np.int64)
            prev_ul = np.zeros(ch, dtype=np.int64)
            for x in range(w):
                pred = _png_paeth(prev, up[x], prev_ul)
                prev = (cur[x] + pred) & 0xFF
                prev_ul = up[x]
                row[x] = prev
        else:
            raise ValueError(f"unknown PNG filter type {f}")
    return recon[:, :, :3].astype(np.uint8)


def ppm_encode(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → binary PPM (P6)."""
    h, w, _ = rgb.shape
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()


def ppm_decode(data: bytes) -> np.ndarray:
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: magic, width, height, maxval — whitespace separated
    parts = []
    i = 2
    while len(parts) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment line
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        parts.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxv = parts
    if maxv != 255:
        raise ValueError("only maxval=255 supported")
    return np.frombuffer(data, np.uint8, h * w * 3, i).reshape(h, w, 3).copy()


# WAV format tags (published RIFF/WAVE registry)
_WAV_TAG = {"pcm16": 1, "alaw": 6, "ulaw": 7, "adpcm": 0x11}
_WAV_CODEC = {v: k for k, v in _WAV_TAG.items()}
ADPCM_BLOCK_ALIGN = 256
ADPCM_SPB = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1  # 505 samples per block


def wav_encode(samples: np.ndarray, sample_rate: int = 8000,
               codec: str = "pcm16") -> bytes:
    """int16 mono samples → canonical WAV bytes in one of four REAL
    encodings: ``pcm16`` (tag 1), G.711 ``alaw``/``ulaw`` (tags 6/7),
    or IMA ``adpcm`` (tag 0x11, `functions/audio.py` block kernel —
    sample count must be a multiple of `ADPCM_SPB`). Compressed
    variants carry the spec-required ``fact`` chunk with the decoded
    sample count."""
    x = np.asarray(samples, dtype="<i2")
    n_samp = len(x)
    if codec == "pcm16":
        data = x.tobytes()
        fmt = struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                          sample_rate * 2, 2, 16)
        fact = b""
    elif codec in ("ulaw", "alaw"):
        from ingest_spark.functions import audio as _audio
        enc = _audio.ulaw_encode if codec == "ulaw" else _audio.alaw_encode
        data = enc(x).tobytes()
        fmt = struct.pack("<IHHIIHHH", 18, _WAV_TAG[codec], 1, sample_rate,
                          sample_rate, 1, 8, 0)
        fact = b"fact" + struct.pack("<II", 4, n_samp)
    elif codec == "adpcm":
        from ingest_spark.functions import audio as _audio
        headers, packed = _audio.adpcm_ima_encode_blocks(x, ADPCM_SPB)
        data = np.concatenate(
            [headers, packed], axis=1
        ).astype(np.uint8).tobytes()
        nb = headers.shape[0]
        byte_rate = sample_rate * ADPCM_BLOCK_ALIGN // ADPCM_SPB
        fmt = struct.pack("<IHHIIHHHH", 20, 0x11, 1, sample_rate,
                          byte_rate, ADPCM_BLOCK_ALIGN, 4, 2, ADPCM_SPB)
        fact = b"fact" + struct.pack("<II", 4, nb * ADPCM_SPB)
    else:
        raise ValueError(f"unknown wav codec {codec!r}")
    n = len(data)
    body = b"WAVE" + b"fmt " + fmt + fact \
        + b"data" + struct.pack("<I", n) + data + (b"\x00" * (n & 1))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes):
    """WAV bytes → (sample_rate, int16 samples); see `wav_decode_full`."""
    _codec, sr, samples = wav_decode_full(data)
    return sr, samples


def wav_decode_full(data: bytes):
    """WAV bytes → (codec, sample_rate, int16 samples) via a RIFF chunk
    walk (fmt/fact/data; other chunks skipped). Dispatches on the fmt
    tag: PCM16, G.711 A-law/mu-law, and IMA ADPCM all decode natively."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sr = tag = block_align = None
    n_fact = None
    raw = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            tag, ch, sr, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", data, body)
            if tag not in _WAV_CODEC or ch != 1:
                raise ValueError(f"unsupported wav format tag={tag} ch={ch}")
            if tag == 1 and bits != 16:
                raise ValueError("only 16-bit PCM supported")
        elif cid == b"fact":
            (n_fact,) = struct.unpack_from("<I", data, body)
        elif cid == b"data":
            raw = (body, sz)
        pos = body + sz + (sz & 1)
    if sr is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    body, sz = raw
    codec = _WAV_CODEC[tag]
    if codec == "pcm16":
        samples = np.frombuffer(data, "<i2", sz // 2, body).copy()
    elif codec in ("ulaw", "alaw"):
        from ingest_spark.functions import audio as _audio
        dec = _audio.ulaw_decode if codec == "ulaw" else _audio.alaw_decode
        samples = dec(np.frombuffer(data, np.uint8, sz, body))
    else:  # adpcm
        from ingest_spark.functions import audio as _audio
        samples = _audio.adpcm_ima_decode_blocks(
            data[body: body + sz], block_align)
    if n_fact is not None:
        samples = samples[:n_fact]
    return codec, sr, samples


def synthetic_pixels(media_id: int, w: int, h: int) -> np.ndarray:
    """Closed-form deterministic RGB pattern — the SQL oracle twin of
    the image payloads (`multimodal_decode_pixels`)."""
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 7 + y * 13 + media_id) % 256
    g = (x * 3 + y * 5 + 2 * media_id) % 256
    b = (x * 11 + y + 3 * media_id) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def synthetic_samples(media_id: int, n: int) -> np.ndarray:
    """Closed-form deterministic PCM16 pattern (SQL-twinned)."""
    t = np.arange(n, dtype=np.int64)
    return (((t * 31 + media_id * 17) % 65536) - 32768).astype(np.int16)


def synthetic_video_pixels(media_id: int, t: int, w: int, h: int) -> np.ndarray:
    """Closed-form deterministic RGB pattern for video frame ``t`` —
    the SQL oracle twin of the AVI payloads (`multimodal_video_decode`):
    the image pattern with a per-frame phase term."""
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 7 + y * 13 + media_id + 97 * t) % 256
    g = (x * 3 + y * 5 + 2 * media_id + 59 * t) % 256
    b = (x * 11 + y + 3 * media_id + 31 * t) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8)


AUDIO_SAMPLE_RATE = 8000


def synthetic_media(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL payloads for ALL three
    kinds: images are valid 24-bit BMPs (closed-form pixels), audio is
    valid PCM16 WAV (closed-form samples), video is valid uncompressed
    AVI — one 1-fps 'DIB ' frame per second of duration, closed-form
    per-frame pixels (`synthetic_video_pixels`). Every payload is
    byte-real and decode is cross-engine verifiable."""
    df = spark.range(0, n).withColumnRenamed("id", "media_id")
    i = F.col("media_id")
    kind = F.when(i % 3 == 0, "image").when(i % 3 == 1, "audio").otherwise("video")
    width = F.when(kind != "audio", (16 + i % 16).cast("int"))
    height = F.when(kind != "audio", (16 + (i * 7) % 16).cast("int"))
    duration = F.when(kind != "image", (1000 + i % 9000).cast("int"))

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series, knd: pd.Series, w: pd.Series,
                 h: pd.Series, dur: pd.Series) -> pd.Series:
        out = []
        for m, k, ww, hh, dd in zip(mid, knd, w, h, dur):
            m = int(m)
            if k == "image":
                px = synthetic_pixels(m, int(ww), int(hh))
                # alternate containers: odd image ordinals ship as REAL
                # PNGs (stdlib-zlib DEFLATE, filter rotating over all
                # five spec types) so the compressed path is exercised
                # by every pixel-exact contract row, even ordinals stay
                # BMP — the closed-form pixel sums are container-
                # agnostic, so the oracles pin BOTH decoders
                if (m // 3) % 2 == 1:
                    out.append(png_encode(px, filter_type=(m // 3) % 5))
                else:
                    out.append(bmp_encode(px))
            elif k == "audio":
                n_samp = int(dd) * AUDIO_SAMPLE_RATE // 1000
                out.append(wav_encode(synthetic_samples(m, n_samp),
                                      AUDIO_SAMPLE_RATE))
            else:
                n_frames = max(int(dd) // 1000, 1)
                frames = np.stack([
                    synthetic_video_pixels(m, t, int(ww), int(hh))
                    for t in range(n_frames)
                ])
                out.append(avi_encode(frames, fps=1))
        return pd.Series(out)

    payload = _payload(i, kind, width, height, duration)
    return df.select(
        "media_id",
        kind.alias("kind"),
        payload.alias("content"),
        F.when(
            (kind == "image") & (F.floor(i / 3) % 2 == 1), "image/png"
        )
        .when(kind == "image", "image/bmp")
        .when(kind == "audio", "audio/wav")
        .otherwise("video/x-msvideo").alias("mime"),
        width.alias("width"),
        height.alias("height"),
        duration.alias("duration_ms"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _fake_pixels(content: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic pseudo-decode: bytes → (h, w, 3) float32 in [0,1]."""
    seed = int.from_bytes(content[:8].ljust(8, b"\0"), "little")
    rng = np.random.default_rng(seed)
    return rng.random((height, width, 3), dtype=np.float32)


DECODED_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("height", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("pixels", ArrayType(FloatType()), False),  # h*w*3 row-major
])


def _decode_rgb(content: bytes, fake: bool, w: int, h: int) -> np.ndarray:
    """Route by magic bytes: BMP/PPM decode natively (pure numpy);
    compressed formats fall back to PIL, then to the deterministic fake
    (only if ``fake``), else raise — no silent wrong pixels."""
    if content[:2] == b"BM":
        return bmp_decode(content).astype(np.float32) / 255.0
    if content[:2] == b"P6":
        return ppm_decode(content).astype(np.float32) / 255.0
    if content[:8] == _PNG_SIG:
        return png_decode(content).astype(np.float32) / 255.0
    if content[:3] == b"\xff\xd8\xff":
        return _jpeg.decode(content).astype(np.float32) / 255.0
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return _gif.decode(content).astype(np.float32) / 255.0
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        # lossless VP8L decodes natively. Lossy VP8 / animated raise
        # NotImplementedError inside (perceptual DSP — environmental,
        # like MP3/H.264): with fake=True those fall through to the
        # pseudo-decoder like any other unsupported codec family —
        # but a CORRUPT container (ValueError) never does, the same
        # recognized-but-broken rule as the other native formats.
        try:
            return _webp.decode(content).astype(np.float32) / 255.0
        except NotImplementedError:
            if fake:
                return _fake_pixels(content, w, h)
            raise
    if HAVE_PIL:  # pragma: no cover — PIL absent in this container
        import io
        return np.asarray(
            _PIL.open(io.BytesIO(content)).convert("RGB"), dtype=np.float32
        ) / 255.0
    if fake:
        return _fake_pixels(content, w, h)
    raise NotImplementedError(
        "unrecognized image format requires PIL (absent here); "
        "BMP/PPM/PNG/JPEG/GIF/WebP-lossless decode natively — pass "
        "fake=True to pseudo-decode other formats"
    )


def decode_image(media: DataFrame, fake: bool = False) -> DataFrame:
    """image rows → pixel tensors (float32 RGB in [0,1], row-major).

    BMP (24-bit) and PPM (P6) payloads are decoded natively in numpy;
    compressed formats need PIL or ``fake=True`` (deterministic
    pseudo-decoder keyed on the content bytes)."""

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "image"]
            rows = {"media_id": [], "height": [], "width": [], "pixels": []}
            # decode is inherently per-image; iterate plain numpy arrays
            # (no per-row pandas Series construction)
            for mid, content, w0, h0 in zip(
                pdf["media_id"].to_numpy(),
                pdf["content"].to_numpy(),
                pdf["width"].to_numpy(),
                pdf["height"].to_numpy(),
            ):
                w = int(w0) if not pd.isna(w0) else 16
                h = int(h0) if not pd.isna(h0) else 16
                px = _decode_rgb(bytes(content), fake, w, h)
                h, w = px.shape[:2]
                rows["media_id"].append(int(mid))
                rows["height"].append(h)
                rows["width"].append(w)
                rows["pixels"].append(px.reshape(-1).tolist())
            yield pd.DataFrame(rows)

    return media.mapInPandas(_decode, DECODED_SCHEMA)


IMAGE_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("height", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("checksum", LongType(), False),  # sum of raw RGB bytes
])


def decode_image_stats(media: DataFrame) -> DataFrame:
    """Pixel-exact decode surface: native BMP/PPM decode, emitting the
    integer sum of raw RGB values (+ shape) per image — the contract
    query `multimodal_decode_pixels` checks this against the
    closed-form pixel pattern re-derived in SQL, proving the decoder
    is byte-faithful."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "image"]
            rows = {"media_id": [], "height": [], "width": [], "checksum": []}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                raw = bytes(content)
                if raw[:2] == b"BM":
                    rgb = bmp_decode(raw)
                elif raw[:8] == _PNG_SIG:
                    rgb = png_decode(raw)
                else:
                    rgb = ppm_decode(raw)
                rows["media_id"].append(int(mid))
                rows["height"].append(rgb.shape[0])
                rows["width"].append(rgb.shape[1])
                rows["checksum"].append(int(rgb.sum(dtype=np.int64)))
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("n_samples", LongType(), False),
    StructField("checksum", LongType(), False),  # sum of int16 samples
])


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """Sample-exact WAV decode surface (contract query
    `multimodal_audio_decode`): native PCM16 decode, emitting
    sample-rate, count and integer sample sum per audio row."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "audio"]
            rows = {"media_id": [], "sample_rate": [], "n_samples": [], "checksum": []}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                sr, samples = wav_decode(bytes(content))
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(int(sr))
                rows["n_samples"].append(len(samples))
                rows["checksum"].append(int(samples.sum(dtype=np.int64)))
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, AUDIO_STATS_SCHEMA)


VIDEO_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("checksum", LongType(), False),  # sum of raw RGB bytes
])


def decode_video_stats(media: DataFrame) -> DataFrame:
    """Frame-exact AVI decode surface (contract query
    `multimodal_video_decode`): native RIFF/DIB decode, one row per
    frame with its raw-RGB byte sum — any container-walk or row-layout
    error breaks the cross-engine hash."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["kind"] == "video"]
            rows = {"media_id": [], "frame_idx": [], "height": [],
                    "width": [], "checksum": []}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                _fps, frames = avi_decode(bytes(content))
                for t in range(frames.shape[0]):
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(t)
                    rows["height"].append(int(frames.shape[1]))
                    rows["width"].append(int(frames.shape[2]))
                    rows["checksum"].append(
                        int(frames[t].sum(dtype=np.int64))
                    )
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, VIDEO_STATS_SCHEMA)


def resize(decoded: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbor resize of decoded tensors (pure numpy)."""
    def _resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "height": [], "width": [], "pixels": []}
            for mid, h, w, pixels in zip(
                pdf["media_id"].to_numpy(), pdf["height"].to_numpy(),
                pdf["width"].to_numpy(), pdf["pixels"].to_numpy(),
            ):
                h, w = int(h), int(w)
                px = np.asarray(pixels, dtype=np.float32).reshape(h, w, 3)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                rs = px[yi][:, xi]
                out["media_id"].append(int(mid))
                out["height"].append(out_h)
                out["width"].append(out_w)
                out["pixels"].append(rs.reshape(-1).tolist())
            yield pd.DataFrame(out)

    return decoded.mapInPandas(_resize, DECODED_SCHEMA)


FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("embedding", ArrayType(FloatType()), False),
])


def feature_extract(decoded: DataFrame, dim: int = 16) -> DataFrame:
    """Stub feature extractor: channel-mean + downsampled grid stats →
    fixed-dim vector (a real model slot; deterministic here)."""
    def _feat(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "embedding": []}
            for mid, h, w, pixels in zip(
                pdf["media_id"].to_numpy(), pdf["height"].to_numpy(),
                pdf["width"].to_numpy(), pdf["pixels"].to_numpy(),
            ):
                h, w = int(h), int(w)
                px = np.asarray(pixels, dtype=np.float32).reshape(h, w, 3)
                means = px.mean(axis=(0, 1))  # 3
                grid = px.mean(axis=2)
                qh = max(1, h // 2)
                qw = max(1, w // 2)
                quads = [
                    grid[:qh, :qw].mean(), grid[:qh, qw:].mean(),
                    grid[qh:, :qw].mean(), grid[qh:, qw:].mean(),
                ]
                vec = np.concatenate([means, quads, grid.std(axis=0)[: dim - 7]])
                vec = np.pad(vec, (0, max(0, dim - len(vec))))[:dim]
                out["media_id"].append(int(mid))
                out["embedding"].append(vec.astype(np.float32).tolist())
            yield pd.DataFrame(out)

    return decoded.mapInPandas(_feat, FEATURES_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("ts_ms", IntegerType(), False),
])


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame timestamp
    (pure Catalyst explode — pair with decode_video_stats for the
    actual per-frame pixel decode)."""
    frames = F.sequence(
        F.lit(0), F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0))
    )
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.posexplode(frames).alias("frame_idx", "_i"),
        )
        .select(
            "media_id", "frame_idx",
            (F.col("frame_idx") * every_ms).cast("int").alias("ts_ms"),
        )
    )


# ------------------------------------- compressed-codec contract layer

# closed-form 16-entry palette for GIF payloads (≤256 colors keeps the
# LZW round trip lossless)
_GIF_PALETTE = np.stack([
    np.arange(16) * 17 % 256,
    np.arange(16) * 29 % 256,
    np.arange(16) * 13 % 256,
], axis=1).astype(np.uint8)

# max |decoded − source| per 8-bit channel the JPEG rows must meet.
# The payloads are smooth per-channel gradients at quality 90: measured
# worst error over the generator grid is 6 for 4:4:4 rows and 22 for
# 4:2:0 rows (chroma box-filter + replicate upsample across a gradient
# step). 32 leaves margin for dimension drift while staying far below
# what any real decode defect produces (a wrong zigzag/Huffman/IDCT
# yields errors of 100+); the pytest layer pins the measured worsts.
JPEG_TOL = 32


def synthetic_compressed_pixels(media_id: int, fmt: str, w: int, h: int) -> np.ndarray:
    """Closed-form source pixels for the compressed-codec payloads.

    jpeg rows are smooth bilinear gradients (r by x, g by y, b flat) —
    the shape JPEG quantization bounds tightly; gif rows draw from the
    16-color `_GIF_PALETTE` (lossless round trip); png rows reuse the
    `synthetic_pixels` sawtooth (DEFLATE is lossless regardless).
    """
    y, x = np.mgrid[0:h, 0:w]
    if fmt == "jpeg":
        r = x * 255 // max(w - 1, 1)
        g = y * 255 // max(h - 1, 1)
        b = np.full_like(r, media_id * 37 % 256)
        return np.stack([r, g, b], axis=2).astype(np.uint8)
    if fmt == "gif":
        return _GIF_PALETTE[(x + 3 * y + media_id) % 16]
    if fmt == "webp":
        # palette rows (media_id % 4 == 1) reuse the 16-color pattern
        # so the color-indexing transform (with pixel bundling) is the
        # natural encoding; other rows use the sawtooth
        if media_id % 4 == 1:
            return _GIF_PALETTE[(x + 3 * y + media_id) % 16]
        return synthetic_pixels(media_id, w, h)
    return synthetic_pixels(media_id, w, h)


def synthetic_compressed_media(spark: SparkSession, n: int = 120) -> DataFrame:
    """Deterministic table of REAL compressed payloads: JPEG (4:4:4
    and 4:2:0, some rows with restart markers, every fourth jpeg row
    a PROGRESSIVE SOF2 stream), GIF89a (LZW), and PNG (DEFLATE,
    rotating filter types) — fmt cycles by ``media_id % 3``, dims are
    closed-form so a SQL oracle can re-derive every shape fact
    (`multimodal_compressed_decode` contract query). Progressive and
    baseline rows share the same pixel tolerance (identical final
    coefficients)."""
    df = spark.range(0, n).withColumnRenamed("id", "media_id")
    i = F.col("media_id")
    fmt = (
        F.when(i % 3 == 0, "jpeg").when(i % 3 == 1, "gif").otherwise("png")
    )
    width = (12 + i % 13).cast("int")
    height = (12 + (i * 5) % 17).cast("int")

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series, fm: pd.Series, w: pd.Series,
                 h: pd.Series) -> pd.Series:
        out = []
        for m, f_, ww, hh in zip(mid, fm, w, h):
            m, ww, hh = int(m), int(ww), int(hh)
            px = synthetic_compressed_pixels(m, f_, ww, hh)
            if f_ == "jpeg":
                enc = (_jpeg.encode_progressive
                       if (m // 3) % 4 == 3 else _jpeg.encode)
                out.append(enc(
                    px, quality=90,
                    subsample=(m // 3) % 2 == 1,
                    restart_interval=2 if m % 9 == 0 else 0,
                ))
            elif f_ == "gif":
                out.append(_gif.encode(px))
            else:
                out.append(png_encode(px, filter_type=(m // 3) % 5))
        return pd.Series(out)

    payload = _payload(i, fmt, width, height)
    return df.select(
        "media_id", fmt.alias("fmt"), width.alias("width"),
        height.alias("height"), payload.alias("content"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def synthetic_webp_media(spark: SparkSession, n: int = 96) -> DataFrame:
    """Deterministic table of REAL lossless-WebP (VP8L) payloads.

    Encoder config cycles by ``media_id % 4`` so every decoder path is
    exercised by spec-conformant streams: 0 = subtract-green + color
    cache + LZ77; 1 = color-indexing transform over the 16-color
    pattern (sub-byte pixel bundling); 2 = fixed-mode predictor
    transform (all 14 modes across the corpus) stacked on
    subtract-green; 3 = cross-color transform + cache. Every fourth
    config-3 row additionally wraps the stream in a VP8X extended
    container (chunk-walk coverage). Dims are closed-form so the
    `multimodal_webp_decode` oracle re-derives every fact in SQL;
    VP8L is lossless, so `lossless_exact` must read TRUE on all rows
    — any prefix-code, LZ77-distance-map, cache, bundling, predictor,
    or cross-color bug flips it and breaks the driver hash."""
    df = spark.range(0, n).withColumnRenamed("id", "media_id")
    i = F.col("media_id")
    width = (10 + i % 11).cast("int")
    height = (9 + (i * 3) % 13).cast("int")

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = []
        for m, ww, hh in zip(mid, w, h):
            m, ww, hh = int(m), int(ww), int(hh)
            px = synthetic_compressed_pixels(m, "webp", ww, hh)
            cfg = m % 4
            if cfg == 0:
                data = _webp.encode(px, subtract_green=True,
                                    cache_bits=6)
            elif cfg == 1:
                data = _webp.encode(px, palette=True)
            elif cfg == 2:
                data = _webp.encode(px, predictor_mode=(m // 4) % 14,
                                    subtract_green=True)
            else:
                data = _webp.encode(
                    px, cache_bits=4,
                    color_transform=((m * 37) % 256, (m * 91) % 256,
                                     (m * 53) % 256))
                if (m // 4) % 4 == 3:
                    # re-wrap in a VP8X extended container
                    vp8l = data[12:]
                    vp8x = struct.pack("<I", 0) \
                        + struct.pack("<I", ww - 1)[:3] \
                        + struct.pack("<I", hh - 1)[:3]
                    body = b"WEBP" + b"VP8X" \
                        + struct.pack("<I", len(vp8x)) + vp8x + vp8l
                    data = b"RIFF" + struct.pack("<I", len(body)) + body
            out.append(data)
        return pd.Series(out)

    df = kernel_partitions(df)
    payload = _payload(i, width, height)
    return df.select(
        "media_id", F.lit("webp").alias("fmt"), width.alias("width"),
        height.alias("height"), payload.alias("content"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


COMPRESSED_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("fmt", StringType(), False),
    StructField("height", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("n_px", IntegerType(), False),
    StructField("lossless_exact", BooleanType(), False),
    StructField("within_tol", BooleanType(), False),
])


def decode_compressed_stats(media: DataFrame) -> DataFrame:
    """Decode every compressed payload through the magic-byte router
    and compare against the closed-form source pattern: GIF/PNG rows
    must match byte-exactly (lossless codecs), JPEG rows must land
    within `JPEG_TOL` per channel. Output is integer/boolean only, so
    the DuckDB oracle pins it exactly — any Huffman, LZW, DEFLATE,
    IDCT, upsampling, or color-transform bug flips a boolean and
    breaks the driver hash."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in COMPRESSED_STATS_SCHEMA}
            for mid, f_, content in zip(
                pdf["media_id"].to_numpy(),
                pdf["fmt"].to_numpy(),
                pdf["content"].to_numpy(),
            ):
                px = _decode_rgb(bytes(content), False, 0, 0)
                dec = np.round(px * 255.0).astype(np.int64)
                h, w = dec.shape[:2]
                exp = synthetic_compressed_pixels(
                    int(mid), str(f_), w, h
                ).astype(np.int64)
                max_err = int(np.abs(dec - exp).max()) if dec.size else 255
                rows["media_id"].append(int(mid))
                rows["fmt"].append(str(f_))
                rows["height"].append(h)
                rows["width"].append(w)
                rows["n_px"].append(h * w * 3)
                rows["lossless_exact"].append(max_err == 0)
                rows["within_tol"].append(
                    max_err <= (JPEG_TOL if f_ == "jpeg" else 0)
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, COMPRESSED_STATS_SCHEMA)


# ------------------------------------------- compressed audio + MJPEG

# measured worst-case reconstruction error of each audio codec on the
# triangle source pattern, pinned by tests/test_codecs.py: G.711 error
# is bounded by the top-segment quantization step (mu-law 512 + clip
# 644 over all int16; 510 measured on the pattern), IMA ADPCM by the
# per-block adaptation transient (262 measured; index restarts at 0
# each block while the pattern slope needs step~122)
AUDIO_CODEC_TOL = {"ulaw": 644, "alaw": 512, "adpcm": 512}
AUDIO_CODECS = ("ulaw", "alaw", "adpcm")


def synthetic_codec_samples(media_id: int, n: int) -> np.ndarray:
    """Closed-form triangle wave (slope ±122/sample) — smooth enough
    that every compressed codec tracks it within `AUDIO_CODEC_TOL`,
    unlike the PCM sawtooth whose 65k wrap would put ADPCM into a
    many-sample recovery transient."""
    t = np.arange(n, dtype=np.int64)
    p = (t * 61 + media_id * 17) % 32768
    return (np.abs(p - 16384) * 2 - 16384).astype(np.int16)


def _codec_audio_n_samples(media_id: int) -> int:
    if media_id % 3 == 2:  # adpcm rows: whole blocks
        return ADPCM_SPB * (4 + media_id % 13)
    return 4000 + 2 * ((media_id * 97) % 2000)  # even → no RIFF pad byte


def synthetic_codec_audio(spark: SparkSession, n: int = 90) -> DataFrame:
    """Deterministic table of REAL compressed-audio WAV payloads:
    codec cycles ulaw/alaw/adpcm by ``media_id % 3``; sample counts
    are closed-form (`_codec_audio_n_samples`) so a SQL oracle can
    re-derive every decoded fact INCLUDING the exact container byte
    size (`multimodal_audio_codecs` contract query)."""
    df = spark.range(0, n).withColumnRenamed("id", "media_id")
    i = F.col("media_id")
    codec = (
        F.when(i % 3 == 0, F.lit("ulaw"))
        .when(i % 3 == 1, F.lit("alaw"))
        .otherwise(F.lit("adpcm"))
    )

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series, cod: pd.Series) -> pd.Series:
        out = []
        for m, c in zip(mid, cod):
            m = int(m)
            x = synthetic_codec_samples(m, _codec_audio_n_samples(m))
            out.append(wav_encode(x, AUDIO_SAMPLE_RATE, codec=str(c)))
        return pd.Series(out)

    df = kernel_partitions(df)
    return df.select(
        "media_id", codec.alias("codec"),
        _payload(i, codec).alias("content"),
    )


AUDIO_CODEC_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("codec", StringType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("n_samples", IntegerType(), False),
    StructField("payload_bytes", IntegerType(), False),
    StructField("within_tol", BooleanType(), False),
])


def decode_audio_codec_stats(media: DataFrame) -> DataFrame:
    """Decode every compressed-audio payload through the WAV fmt-tag
    router and compare against the closed-form source: output is
    integer/boolean only so the DuckDB oracle pins it exactly — a
    companding-table, block-header, nibble-order, or step-adaptation
    bug flips `within_tol` (or shifts `n_samples`/`payload_bytes`)
    and breaks the driver hash."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in AUDIO_CODEC_STATS_SCHEMA}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                raw = bytes(content)
                codec, sr, samples = wav_decode_full(raw)
                src = synthetic_codec_samples(int(mid), len(samples))
                max_err = int(np.abs(
                    samples.astype(np.int64) - src.astype(np.int64)
                ).max()) if len(samples) else 1 << 30
                rows["media_id"].append(int(mid))
                rows["codec"].append(codec)
                rows["sample_rate"].append(int(sr))
                rows["n_samples"].append(len(samples))
                rows["payload_bytes"].append(len(raw))
                rows["within_tol"].append(
                    max_err <= AUDIO_CODEC_TOL.get(codec, 0)
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, AUDIO_CODEC_STATS_SCHEMA)


# measured worst per-channel error of the MJPEG round trip at q=90
# over the generator grid (smooth bilinear frames; worst observed 13
# on 4:2:0 rows) — pinned by tests/test_codecs.py
MJPEG_TOL = 24
MJPEG_FPS = 4


def synthetic_mjpeg_pixels(media_id: int, t: int, w: int, h: int) -> np.ndarray:
    """Closed-form smooth frame pattern for MJPEG rows: bilinear
    gradients (JPEG-friendly) with a per-frame flat blue phase so
    consecutive frames differ."""
    y, x = np.mgrid[0:h, 0:w]
    r = x * 255 // max(w - 1, 1)
    g = y * 255 // max(h - 1, 1)
    b = np.full_like(r, (media_id * 37 + t * 29) % 256)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def synthetic_mjpeg_media(spark: SparkSession, n: int = 60) -> DataFrame:
    """Deterministic table of REAL Motion-JPEG AVI payloads: per-row
    frame count / dims / 4:2:0-vs-4:4:4 are closed-form in
    ``media_id`` so the SQL oracle re-derives every per-frame fact
    (`multimodal_mjpeg_decode` contract query)."""
    df = spark.range(0, n).withColumnRenamed("id", "media_id")

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series) -> pd.Series:
        out = []
        for m in mid:
            m = int(m)
            w, h, nf = 16 + m % 13, 16 + (m * 5) % 11, 2 + m % 4
            frames = np.stack([
                synthetic_mjpeg_pixels(m, t, w, h) for t in range(nf)
            ])
            out.append(avi_encode(frames, fps=MJPEG_FPS, codec="mjpg",
                                  quality=90, subsample=m % 2 == 1))
        return pd.Series(out)

    df = kernel_partitions(df)
    return df.select("media_id", _payload(F.col("media_id")).alias("content"))


MJPEG_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("fps", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("within_tol", BooleanType(), False),
])


def decode_mjpeg_stats(media: DataFrame) -> DataFrame:
    """Decode every MJPEG AVI through the container walk + native T.81
    decoder, one output row per frame with the per-frame tolerance
    verdict vs the closed-form source — a container-offset, SOF-dim,
    Huffman, or upsampling bug flips a boolean or drops a frame row
    and breaks the cross-engine hash."""

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in MJPEG_STATS_SCHEMA}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                fps, frames = avi_decode(bytes(content))
                nf, h, w = frames.shape[:3]
                for t in range(nf):
                    exp = synthetic_mjpeg_pixels(int(mid), t, w, h)
                    err = int(np.abs(
                        frames[t].astype(np.int64) - exp.astype(np.int64)
                    ).max())
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(t)
                    rows["fps"].append(int(fps))
                    rows["height"].append(h)
                    rows["width"].append(w)
                    rows["within_tol"].append(err <= MJPEG_TOL)
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, MJPEG_STATS_SCHEMA)


# ------------------------------------------------------------- FLAC

def synthetic_flac_audio(spark: SparkSession, n: int = 80) -> DataFrame:
    """Deterministic table of REAL FLAC payloads (`functions/flac.py`:
    STREAMINFO + fixed-predictor frames, CRC-8/16, sample MD5) over
    the SQL-twinned PCM sawtooth — FLAC is lossless, so the contract
    oracle pins decode SAMPLE-exactly via closed-form sums
    (`multimodal_flac_decode` query)."""
    from ingest_spark.functions import flac as _flac

    df = spark.range(0, n).withColumnRenamed("id", "media_id")

    @F.pandas_udf(BinaryType())
    def _payload(mid: pd.Series) -> pd.Series:
        out = []
        for m in mid:
            m = int(m)
            x = synthetic_samples(m, 6000 + (m * 389) % 6000)
            out.append(_flac.encode(x, AUDIO_SAMPLE_RATE))
        return pd.Series(out)

    df = kernel_partitions(df)
    return df.select("media_id", _payload(F.col("media_id")).alias("content"))


FLAC_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("n_samples", IntegerType(), False),
    StructField("checksum", LongType(), False),
    StructField("lossless_exact", BooleanType(), False),
])


def decode_flac_stats(media: DataFrame) -> DataFrame:
    """Decode every FLAC payload natively (frame walk, rice residuals,
    fixed-predictor integration, CRC + MD5 verification) and emit the
    exact integer sample sum — the DuckDB oracle re-derives it from
    the closed-form source, so ANY bit-level decode defect breaks the
    cross-engine hash (lossless leaves no tolerance to hide in)."""
    from ingest_spark.functions import flac as _flac

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in FLAC_STATS_SCHEMA}
            for mid, content in zip(
                pdf["media_id"].to_numpy(), pdf["content"].to_numpy()
            ):
                sr, samples = _flac.decode(bytes(content))
                src = synthetic_samples(int(mid), len(samples))
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(int(sr))
                rows["n_samples"].append(len(samples))
                rows["checksum"].append(int(samples.sum(dtype=np.int64)))
                rows["lossless_exact"].append(bool((samples == src).all()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(_stats, FLAC_STATS_SCHEMA)
