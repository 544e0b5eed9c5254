"""Multimodal column operators — opaque ``binary`` payloads with typed
metadata, processed by Arrow-batched ``mapInPandas`` (north-star scope;
the reference has no binary/multimodal surface, SURVEY §2.6).

Design for 100 TB: payload bytes live in one ``BinaryType`` column and
never leave the executor; metadata (modality, declared dims) is a typed
struct usable for partition pruning and filter pushdown *without*
touching bytes. Decode/feature work happens in ``mapInPandas`` so each
Arrow batch crosses the JVM→Python boundary once — never per row.

Codec posture: **every image/audio container decodes for real with
stdlib + numpy** — RIFF/WAVE PCM (8/16-bit) AND mono IMA ADPCM
(format 0x11 — 4-bit predictive, round-tripped exactly against an
independent encoder), BMP (BITMAPINFOHEADER,
uncompressed 24-bit), binary PPM (P6) via ``struct``; **PNG** (8- AND
16-bit depths, gray/RGB/palette/gray-alpha/RGBA, all five scanline
filters including Paeth, non-interlaced AND Adam7) via ``zlib``
inflate + defilter; **GIF** (87a/89a,
global and local palettes, variable-width LZW with clears and the
KwKwK case, deferred-clear table freeze, animated multi-frame — real
frame counts); and **JPEG** — baseline AND progressive (operators/jpeg.py:
coefficient-accumulating multi-scan decode with spectral selection,
successive approximation and EOB runs; Huffman entropy decode,
dequant, IDCT, chroma upsample, YCbCr→RGB — validated by independent
baseline and progressive encoders that must agree exactly, plus
real-world files) — routed by
magic-byte sniffing. For MP3/Ogg/MP4/WebM the CONTAINER layer also
parses for real (``demux_mp3``/``demux_ogg``/``demux_mp4``/
``demux_webm``: MPEG frame-header walk, Ogg page walk + Vorbis ident
packet, ISO-BMFF box tree, Matroska EBML element walk — the
duration/dims/frame-count facts a 100 TB pipeline filters on); only
the inner sample/pixel decode (psychoacoustic + video codecs) stays at
the clearly-marked ``NotImplementedError`` seam in ``decode_media``
(plug soundfile / av there), as do the remaining JPEG edges
(arithmetic/hierarchical coding, 12-bit); the PNG feature matrix and
both JPEG coding modes decode in full. Anything else falls back to a
**deterministic byte-level fake** (length, boundary bytes, fixed-size
chunk count) so the surrounding plumbing — schema, batching,
partitioning, UDF signature — is real and oracle-checkable on
arbitrary payloads.
"""

from __future__ import annotations

import re
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_BYTES = 4096  # fixed video "frame" chunk size for the fake sampler

FEATURE_SCHEMA = (
    "doc_id bigint, modality string, codec string, n_bytes bigint, "
    "first_byte int, last_byte int, n_frames int, width int, height int, "
    "sample_rate int, n_samples bigint, mean_value double"
)

# Formats whose decode requires codec libraries absent from this
# container — the documented NotImplementedError seam.
_COMPRESSED_MAGICS: tuple[tuple[bytes, str], ...] = (
    (b"ID3", "mp3"),
    (b"OggS", "ogg"),
    (b"\x00\x00\x00\x18ftyp", "mp4"),
    (b"\x00\x00\x00\x20ftyp", "mp4"),
    (b"fLaC", "flac"),
)

_NO_MEDIA = {
    "width": None,
    "height": None,
    "sample_rate": None,
    "n_samples": None,
    "mean_value": None,
}


# IMA ADPCM step-size and index-adjust tables (IMA spec constants)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode(data: bytes, block_align: int, spb: int) -> list[int] | None:
    """Mono IMA ADPCM: per block, a 4-byte (predictor, step index)
    header then two 4-bit samples per byte, low nibble first. The
    predictive decode loop is the spec's: delta from the step table,
    clamp to int16, nudge the step index."""
    if block_align < 5 or len(data) % block_align:
        return None
    out: list[int] = []
    for start in range(0, len(data), block_align):
        pred, idx = struct.unpack_from("<hB", data, start)
        if idx > 88:
            return None
        out.append(pred)
        produced = 1
        for p in range(start + 4, start + block_align):
            byte = data[p]
            for shift in (0, 4):
                if produced >= spb:
                    break
                n = (byte >> shift) & 0x0F
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if n & 1:
                    diff += step >> 2
                if n & 2:
                    diff += step >> 1
                if n & 4:
                    diff += step
                if n & 8:
                    diff = -diff
                pred = max(-32768, min(32767, pred + diff))
                idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
                out.append(pred)
                produced += 1
    return out


def _decode_wav(b: bytes) -> dict | None:
    """RIFF/WAVE: chunk walk -> (sample_rate, n_samples, RMS). Decodes
    uncompressed 8/16-bit PCM AND mono IMA ADPCM (format 0x11 — the
    4-bit predictive codec, 4x compression); other compressed WAV
    formats return None (-> byte-fake)."""
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            return None
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format, n_ch, rate, _br, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format == 0x11:  # IMA ADPCM
        if n_ch != 1 or bits != 4 or len(fmt) < 20:
            return None
        (spb,) = struct.unpack_from("<H", fmt, 18)
        samples = _ima_decode(data, block_align, spb)
        if samples is None:
            return None
        arr = np.asarray(samples, np.float64)
        rms = float(np.sqrt(np.mean(arr**2))) if arr.size else 0.0
        return {
            **_NO_MEDIA,
            "sample_rate": int(rate),
            "n_samples": len(samples),
            "mean_value": rms,
        }
    if audio_format != 1 or bits not in (8, 16) or n_ch == 0:
        return None
    frame = n_ch * bits // 8
    samples = np.frombuffer(
        data[: len(data) - (len(data) % frame)],
        dtype=np.int16 if bits == 16 else np.uint8,
    )
    rms = (
        float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
        if samples.size
        else 0.0
    )
    return {
        **_NO_MEDIA,
        "sample_rate": int(rate),
        "n_samples": samples.size // n_ch,
        "mean_value": rms,
    }


def _decode_bmp(b: bytes) -> dict | None:
    """BMP BITMAPINFOHEADER, uncompressed 24-bit: (width, height, mean
    pixel value over the padded-row-stripped raster)."""
    if len(b) < 54 or b[0:2] != b"BM":
        return None
    (data_off,) = struct.unpack_from("<I", b, 10)
    hdr_sz, w, h = struct.unpack_from("<Iii", b, 14)
    _planes, bpp = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if hdr_sz < 40 or compression != 0 or bpp != 24 or w <= 0 or h == 0:
        return None
    stride = ((w * 3 + 3) // 4) * 4
    n_rows = abs(h)
    if data_off + stride * n_rows > len(b):
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=stride * n_rows, offset=data_off)
    mean = float(px.reshape(n_rows, stride)[:, : w * 3].mean())
    return {**_NO_MEDIA, "width": w, "height": n_rows, "mean_value": mean}


def _decode_ppm(b: bytes) -> dict | None:
    """Binary PPM (P6), maxval <= 255: (width, height, mean pixel)."""
    m = re.match(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", b)
    if not m:
        return None
    w, h, maxval = int(m[1]), int(m[2]), int(m[3])
    need = w * h * 3
    if maxval > 255 or len(b) < m.end() + need:
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=need, offset=m.end())
    return {
        **_NO_MEDIA,
        "width": w,
        "height": h,
        "mean_value": float(px.mean()) if need else 0.0,
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

def _png_stride(pw: int, channels: int, depth: int) -> int:
    """Bytes per scanline: sub-byte depths pack MSB-first with the last
    byte padded (RFC 2083 §2.3)."""
    return (pw * channels * depth + 7) // 8


# Adam7 interlace passes: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_defilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (RFC 2083 §6). Sub/Average/
    Paeth are sequential along the row (each byte depends on the
    reconstructed byte ``bpp`` to its left), so those rows run a Python
    byte loop; None/Up rows stay vectorized. Fine for the metadata-sized
    images this stand-in decodes — a production decoder plugs in at the
    same seam with the same output contract."""
    img = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        prev = img[y - 1] if y else np.zeros(stride, np.uint8)
        if ftype == 0:
            img[y] = line
        elif ftype == 2:  # Up
            img[y] = line + prev  # uint8 wraps mod 256, per spec
        elif ftype in (1, 3, 4):
            cur = img[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0  # left
                b = int(prev[x])  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    c = int(img[y - 1][x - bpp]) if (x >= bpp and y) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return img


def _decode_png(b: bytes) -> dict | None:
    """PNG via stdlib zlib: chunk walk → IDAT inflate → defilter →
    (width, height, mean pixel value). Supported profile: bit depths 8
    AND 16 (big-endian samples), color types 0/2/3/4/6, non-interlaced
    AND Adam7-interlaced (each pass defiltered as its own sub-image —
    no reassembly needed for a mean). The mean is over color channels
    only (palette entries mapped through PLTE; alpha dropped) so it is
    comparable with the BMP/PPM decoders (sub-byte grays are raw
    0..2^d-1 sample values). The full baseline PNG feature matrix
    decodes — every depth (1/2/4/8/16), every color type, every
    filter, both interlace modes."""
    if len(b) < 8 or b[:8] != _PNG_MAGIC:
        return None
    pos, ihdr, plte, idat = 8, None, None, b""
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        cid = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        if cid == b"IHDR":
            ihdr = body
        elif cid == b"PLTE":
            plte = body
        elif cid == b"IDAT":
            idat += body
        elif cid == b"IEND":
            break
        pos += 12 + ln  # length + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, ctype, comp, filt, interlace = struct.unpack_from(
        ">IIBBBBB", ihdr, 0
    )
    if comp != 0 or filt != 0 or w == 0 or h == 0:
        return None
    if ctype not in _PNG_CHANNELS:
        return None
    if depth not in (1, 2, 4, 8, 16) or (ctype == 3 and depth == 16) or (
        depth < 8 and ctype not in (0, 3)
    ):
        return None  # combination the PNG spec does not define
    channels = _PNG_CHANNELS[ctype]
    bpp = max(1, channels * depth // 8)
    raw = zlib.decompress(idat)

    # Sub-images to defilter: the whole image, or (Adam7) one per pass —
    # each pass is an independently-filtered sub-image, and since the
    # output is (dims, mean) the passes never need reassembly: every
    # pixel appears in exactly one pass, so the mean over pass pixels IS
    # the image mean.
    subs: list[tuple[int, int]] = []  # (pass_w, pass_h)
    if interlace == 0:
        subs = [(w, h)]
    elif interlace == 1:
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                subs.append((pw, ph))
    else:
        return None
    expect = sum(ph * (1 + _png_stride(pw, channels, depth)) for pw, ph in subs)
    if len(raw) != expect:
        return None

    pos = 0
    acc_sum, acc_n = 0.0, 0
    for pw, ph in subs:
        stride = _png_stride(pw, channels, depth)
        img = _png_defilter(raw[pos : pos + ph * (1 + stride)], ph, stride, bpp)
        pos += ph * (1 + stride)
        if depth == 16:
            grid = np.frombuffer(img.tobytes(), ">u2").reshape(ph, pw, channels)
        elif depth < 8:
            # sub-byte packing: samples fill each byte MSB-first; strip
            # the padding bits of the final byte by truncating to pw.
            bits = np.unpackbits(img, axis=1).reshape(ph, -1, depth)
            weights = 1 << np.arange(depth - 1, -1, -1)
            grid = (bits * weights).sum(axis=2)[:, :pw].reshape(ph, pw, 1)
        else:
            grid = img.reshape(ph, pw, channels)
        if ctype == 3:  # palette -> RGB through PLTE
            if plte is None or len(plte) % 3:
                return None
            pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
            if int(grid.max(initial=0)) >= len(pal):
                return None
            vals = pal[grid.reshape(-1)]
        elif ctype == 4:  # gray + alpha: gray channel only
            vals = grid[..., 0]
        elif ctype == 6:  # RGBA: drop alpha
            vals = grid[..., :3]
        else:  # gray or RGB: all samples are color samples
            vals = grid
        flat = np.asarray(vals, np.float64).reshape(-1)
        acc_sum += float(flat.sum())
        acc_n += flat.size
    return {
        **_NO_MEDIA,
        "width": int(w),
        "height": int(h),
        "mean_value": acc_sum / acc_n,
    }


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int] | None:
    """General GIF-LZW: variable-width codes, CLEAR resets the table,
    END terminates. Returns the index stream (or None on corruption)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return None  # ran out before END
            acc |= data[pos] << nbits  # GIF packs codes LSB-first
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:  # first code after (re)init: must be a root
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:  # deferred clear: table frozen at 12 bits
                table.append(prev + [entry[0]])
        elif code == len(table) and len(table) < 4096:  # the KwKwK case
            entry = prev + [prev[0]]
            table.append(entry)
        else:
            return None
        out.extend(entry)
        # once the table fills the current width, following codes are
        # one bit wider (capped at GIF's 12-bit maximum)
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def _gif_subblocks(b: bytes, pos: int) -> tuple[bytes, int] | None:
    """Concatenate a GIF sub-block chain starting at pos; returns
    (data, position after the 0 terminator)."""
    chunks = []
    while True:
        if pos >= len(b):
            return None
        n = b[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(b):
            return None
        chunks.append(b[pos : pos + n])
        pos += n


def _decode_gif(b: bytes) -> dict | None:
    """GIF87a/89a via a pure-Python LZW decoder: logical-screen dims,
    REAL frame count (one per image descriptor — animated GIFs report
    their animation length), mean over every frame's palette-mapped RGB
    bytes. Frame compositing/disposal and transparency are ignored (the
    mean is over raw frame rasters, not the composited canvas) —
    documented simplification, not a seam."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack_from("<HH", b, 6)
    flags = b[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b, np.uint8, count=3 * n, offset=pos).reshape(-1, 3)
        pos += 3 * n
    n_frames = 0
    total = 0.0
    count = 0
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-block chain
            pos += 1
            sub = _gif_subblocks(b, pos)
            if sub is None:
                return None
            _, pos = sub
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(b):
                return None
            _fx, _fy, fw, fh = struct.unpack_from("<HHHH", b, pos)
            iflags = b[pos + 8]
            pos += 9
            pal = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    b, np.uint8, count=3 * n, offset=pos
                ).reshape(-1, 3)
                pos += 3 * n
            if pal is None or pos >= len(b):
                return None
            min_code = b[pos]
            pos += 1
            sub = _gif_subblocks(b, pos)
            if sub is None:
                return None
            data, pos = sub
            idx = _gif_lzw_decode(data, min_code)
            if idx is None or len(idx) < fw * fh:
                return None
            arr = np.asarray(idx[: fw * fh], np.int64)
            if arr.size and int(arr.max()) >= len(pal):
                return None
            n_frames += 1
            total += float(pal[arr].sum())
            count += arr.size * 3
        else:
            return None
    if n_frames == 0 or count == 0:
        return None
    return {
        **_NO_MEDIA,
        "width": int(w),
        "height": int(h),
        "n_frames": n_frames,
        "mean_value": total / count,
    }


def _decode_jpeg(b: bytes) -> dict | None:
    """Baseline JPEG via operators/jpeg.py (pure numpy: Huffman entropy
    decode, dequant, IDCT, chroma upsample, YCbCr→RGB). Progressive /
    arithmetic streams raise at the seam; malformed fall to bytes."""
    from .jpeg import decode_jpeg_baseline

    out = decode_jpeg_baseline(b)
    if out is None:
        return None
    return {
        **_NO_MEDIA,
        "width": out["width"],
        "height": out["height"],
        "mean_value": out["mean_value"],
    }


_REAL_DECODERS: tuple[tuple[str, object], ...] = (
    ("wav", _decode_wav),
    ("bmp", _decode_bmp),
    ("ppm", _decode_ppm),
    ("png", _decode_png),
    ("gif", _decode_gif),
    ("jpeg", _decode_jpeg),
)


def decode_media(payload: bytes, modality: str) -> dict:
    """Magic-byte-routed media decode.

    Six codecs decode for real in stdlib+numpy (WAV/BMP/PPM/PNG/GIF/
    JPEG incl. progressive — see ``_REAL_DECODERS``). The remaining
    seam is the inner sample/pixel decode of compressed audio/video
    (MP3/OGG/MP4/WebM), which raises here (plug soundfile / av when
    available) — their CONTAINER metadata still parses for real via
    ``demux_mp3``/``demux_ogg``/``demux_mp4``/``demux_webm``.
    Unrecognized payloads return the byte-fake marker ``codec='bytes'``
    with NULL media fields.
    """
    for magic, fmt in _COMPRESSED_MAGICS:
        if payload.startswith(magic):
            raise NotImplementedError(
                f"compressed {fmt} payload: codec library not in this "
                "container — plug PIL.Image.open / soundfile.read / "
                "av.open into this branch"
            )
    for codec, dec in _REAL_DECODERS:
        try:
            out = dec(payload)
        except NotImplementedError:
            raise  # the codec seam stays visible, never a silent fake
        except Exception:
            out = None
        if out is not None:
            return {"codec": codec, **out}
    return {"codec": "bytes", **_NO_MEDIA}


def synth_wav(doc_id: int) -> bytes:
    """Well-formed 16-bit mono PCM WAV, deterministic in doc_id:
    rate = 8000 + (doc_id % 8) * 1000, n = 64 + doc_id % 32 samples,
    every sample the constant (doc_id % 100) - 50 — so the decoded RMS
    is EXACTLY |constant| and the oracle states it in closed form."""
    rate = 8000 + (doc_id % 8) * 1000
    n = 64 + doc_id % 32
    c = (doc_id % 100) - 50
    data = struct.pack("<h", c) * n
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def synth_bmp(doc_id: int) -> bytes:
    """Uncompressed 24-bit BMP, constant pixel value doc_id % 256;
    width ∈ {4, 8} keeps rows unpadded so the last file byte is the
    pixel value too."""
    w = 4 + 4 * (doc_id % 2)
    h = 3 + doc_id % 5
    p = doc_id % 256
    raster = bytes([p]) * (w * 3 * h)
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    )
    return hdr + raster


def synth_ppm(doc_id: int) -> bytes:
    """Binary PPM (P6), single-digit dims, constant pixel
    (doc_id * 7) % 256 — header is always 11 bytes."""
    w = 3 + doc_id % 5
    h = 2 + doc_id % 4
    q = (doc_id * 7) % 256
    return f"P6\n{w} {h}\n255\n".encode() + bytes([q]) * (w * h * 3)


def synth_adpcm_wav(doc_id: int) -> bytes:
    """Mono IMA-ADPCM WAV with closed-form features: every block's
    predictor is the constant c = ((doc_id*3) % 100) - 50 and every
    nibble is 0 — at the initial step index 0 the step is 7, so a zero
    nibble adds 7>>3 = 0 and the index stays pinned at 0: every decoded
    sample equals c exactly and the RMS is |c|. Layout is fixed
    (block_align 12 → 17 samples/block), so
    n_bytes = 60 + 12·n_blocks with n_blocks = 1 + doc_id % 2."""
    rate = 8000 + (doc_id % 6) * 1000
    c = ((doc_id * 3) % 100) - 50
    n_blocks = 1 + doc_id % 2
    block_align = 12
    spb = (block_align - 4) * 2 + 1  # 17
    block = struct.pack("<hBB", c, 0, 0) + b"\x00" * (block_align - 4)
    data = block * n_blocks
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // spb,
        block_align, 4, 2, spb,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_blocks * spb)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def synth_png(doc_id: int) -> bytes:
    """Real 8-bit RGB PNG, constant pixel (doc_id * 11) % 256 so the
    decoded mean is that constant in closed form. The IDAT uses zlib
    level 0 (STORED deflate blocks): for raw < 64 KiB the stream is
    exactly raw + 11 bytes (2 zlib header + 5 block header + 4 adler),
    which makes the total file size a closed form the SQL oracle can
    state — 68 + h*(1 + 3w) — unlike real compression whose length
    depends on the encoder. Tail is always IEND+CRC, so the last byte
    is 0x82 = 130."""
    w = 2 + doc_id % 4
    h = 2 + doc_id % 3
    p = (doc_id * 11) % 256
    raw = (b"\x00" + bytes([p]) * (w * 3)) * h
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 0))
        + _png_chunk(b"IEND", b"")
    )


def synth_gif(doc_id: int) -> bytes:
    """Real (possibly animated) 2-color GIF with closed-form features:
    f = 1 + (doc_id // 15) % 3 identical frames of a w×h checkerboard
    over palette values v0 = (doc_id*13)%256 and v1 = (v0+7)%256, so
    the decoded mean is (ceil(n/2)·v0 + floor(n/2)·v1)/n for n = w·h
    and n_frames is the REAL animation length.

    The LZW stream stays a closed form by emitting only 3-bit literal
    codes with a CLEAR after every 2nd literal: after a clear the first
    literal adds no table entry and the second adds one (table 6→7 < 8),
    so the code width never grows and the byte count is exactly
    ceil(3·(n + n//2 + 2)/8) per frame — stated verbatim by the SQL
    oracle, unlike real compression output."""
    w = 2 + doc_id % 4
    h = 2 + doc_id % 2
    f = 1 + (doc_id // 15) % 3
    v0 = (doc_id * 13) % 256
    v1 = (v0 + 7) % 256
    n_px = w * h

    codes = [4]  # initial CLEAR (min code size 2 -> clear=4, end=5)
    for k in range(n_px):
        codes.append(k % 2)
        if k % 2 == 1:
            codes.append(4)
    codes.append(5)  # END
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 3
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)

    frame = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, w, h)
        + b"\x00"  # no local table, not interlaced
        + b"\x02"  # LZW min code size
        + bytes([len(data)])
        + bytes(data)
        + b"\x00"
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80, 0, 0)  # 2-entry GCT
        + bytes([v0, v0, v0, v1, v1, v1])
        + frame * f
        + b"\x3b"
    )


def synth_jpeg(doc_id: int) -> bytes:
    """Real baseline JPEG with closed-form features: a constant
    grayscale image (value 127 or 129 by doc parity) whose DCT is
    DC-only, with an all-ones quant table so the round-trip is EXACT —
    decoded mean == the constant. Dimensions are block multiples
    (w = 8·(1 + doc_id%3), h = 8·(1 + doc_id%2)).

    The entropy stream length is a closed form because the custom
    Huffman tables make every block a fixed bit count: 12 four-bit DC
    category codes + a single one-bit AC EOB code; the first block
    spends 4 (cat-4 code) + 4 (magnitude of DC=±8) + 1 (EOB) = 9 bits
    and every later block 4 (cat-0) + 1 = 5 bits. All emitted bytes
    are provably < 0xFF, so no byte stuffing can change the length:
    n_bytes = 151 + ceil((9 + 5·(n_blocks − 1)) / 8)."""
    w = 8 * (1 + doc_id % 3)
    h = 8 * (1 + doc_id % 2)
    n_blocks = (w // 8) * (h // 8)
    negative = doc_id % 2 == 1  # c' = -1 -> pixel 127, else +1 -> 129

    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 11, 8, h, w, 1)
        + bytes([1, 0x11, 0])
    )
    # DC table: 12 symbols (categories 0..11), all 4-bit codes
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dht_dc = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 12)
        + b"\x00"
        + bytes(dc_counts)
        + bytes(range(12))
    )
    # AC table: single 1-bit code for EOB (symbol 0x00)
    ac_counts = [1] + [0] * 15
    dht_ac = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 1)
        + b"\x11"  # class 1 (AC), table id 1
        + bytes(ac_counts)
        + b"\x00"
    )
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x01, 0, 63, 0])

    bits: list[int] = []
    # first block: DC cat 4 (code 0100), magnitude of ±8, EOB (0)
    bits += [0, 1, 0, 0]
    bits += [0, 1, 1, 1] if negative else [1, 0, 0, 0]
    bits += [0]
    for _ in range(n_blocks - 1):
        bits += [0, 0, 0, 0, 0]  # DC cat 0 + EOB
    while len(bits) % 8:
        bits.append(1)  # pad with 1s per spec
    data = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + data + b"\xff\xd9"
    )


def synth_progressive_jpeg(doc_id: int) -> bytes:
    """Real PROGRESSIVE JPEG (SOF2, three scans) with the same decoded
    output as ``synth_jpeg`` for even doc_ids: the constant-129 image
    whose DC-only coefficients arrive via DC-first (Al=1), DC-refine
    (the appended bit of dc=8 is 0) and an AC-first scan of EOB codes.
    Closed forms: dims as the baseline synth; n_bytes = 171 +
    ceil((7 + 4(n_blocks-1))/8) + 2*ceil(n_blocks/8) (custom tables
    make every scan's bit count exact; flushes pad with 0s so no
    entropy byte can hit 0xFF and trigger stuffing)."""
    w = 8 * (1 + doc_id % 3)
    h = 8 * (1 + doc_id % 2)
    n_blocks = (w // 8) * (h // 8)

    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    sof = (
        b"\xff\xc2"  # SOF2: progressive
        + struct.pack(">HBHHB", 11, 8, h, w, 1)
        + bytes([1, 0x11, 0])
    )
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dht_dc = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 12)
        + b"\x00"
        + bytes(dc_counts)
        + bytes(range(12))
    )
    ac_counts = [1] + [0] * 15
    dht_ac = (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 1)
        + b"\x11"
        + bytes(ac_counts)
        + b"\x00"
    )

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return (
            b"\xff\xda"
            + struct.pack(">HB", 8, 1)
            + bytes([1, 0x01, ss, se, (ah << 4) | al])
        )

    def pack_bits(bits: list[int]) -> bytes:
        while len(bits) % 8:
            bits.append(0)  # zero padding: provably no 0xFF bytes
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )

    # scan 1 — DC first at Al=1: first block diff = 8>>1 = 4 (cat 3,
    # code 0011, magnitude 100), later blocks cat 0 (0000)
    s1 = [0, 0, 1, 1, 1, 0, 0]
    for _ in range(n_blocks - 1):
        s1 += [0, 0, 0, 0]
    # scan 2 — DC refine to Al=0: appended bit of dc=8 is 0, per block
    s2 = [0] * n_blocks
    # scan 3 — AC first band 1..63: the 1-bit EOB code per block
    s3 = [0] * n_blocks
    return (
        b"\xff\xd8"
        + dqt
        + sof
        + dht_dc
        + dht_ac
        + sos(0, 0, 0, 1)
        + pack_bits(s1)
        + sos(0, 0, 1, 0)
        + pack_bits(s2)
        + sos(1, 63, 0, 0)
        + pack_bits(s3)
        + b"\xff\xd9"
    )


def spread_for_python(df: DataFrame) -> DataFrame:
    """Decouple a CPU-bound Python stage's parallelism from the input's
    file-split count.

    The synth/decode attachers below do constant-per-row Python work, so
    their wall time is bounded by how many partitions the PLANNER gave
    the scan — and a compact parquet input (one file, a couple of row
    groups) yields 1-2 splits no matter how many cores exist. The r5
    sf1 rehearsal measured the hazard directly: `multimodal_container_
    demux` ran 6.6x at 10x data because 50k rows of demux work sat on 2
    of 32 cores. Repartitioning the NARROW pre-payload projection
    (doc_id + small metadata — never the synthesized bytes) costs one
    tiny shuffle and restores linear scaling; when the input already has
    enough splits (the real-cluster case: thousands of files), this is
    a no-op and no shuffle is added. Streaming inputs pass through
    untouched (micro-batch sizing is the trigger's job). The general
    (JVM-stage) form lives in ``operators/spread.py``; this wrapper
    pins the doc_id hash key the payload attachers rely on."""
    from .spread import spread_for_compute

    return spread_for_compute(df, "doc_id")


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Binary column + typed metadata from the documents table.

    ``payload`` is the deterministic stand-in for real media bytes: a
    slice of rows carries REAL media payloads (``doc_id % 15``: 1 →
    WAV on an audio row, 3 → BMP, 6 → PPM, 9 → PNG, 12 → animated GIF
    on image rows — synthesized by the ``synth_*`` generators above so
    the decoders, including zlib inflate + defilter and LZW, run on
    the driver-checked path, not only in pytest), the rest carry the
    UTF-8 bytes of the text. ``media`` = the typed metadata struct a real
    ingest would carry (modality round-robins the three kinds).
    Synthesis is an Arrow-batched UDF because it BUILDS bytes (the
    ingest stand-in); the decode hot path stays in ``mapInPandas``.
    """
    import pandas as pd  # noqa: F811 — resolved on executors too

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        def one(d: int, t: str) -> bytes:
            m = d % 15
            if m == 0:
                # even 15-multiples carry the PROGRESSIVE stream (same
                # decoded output, different closed-form byte count)
                return synth_progressive_jpeg(d) if d % 30 == 0 else synth_jpeg(d)
            if m == 1:
                return synth_wav(d)
            if m == 3:
                return synth_bmp(d)
            if m == 4:
                return synth_adpcm_wav(d)
            if m == 6:
                return synth_ppm(d)
            if m == 9:
                return synth_png(d)
            if m == 12:
                return synth_gif(d)
            return t.encode("utf-8")

        return pd.Series(
            [one(int(d), t) for d, t in zip(doc_id, text)], dtype=object
        )

    modality = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return spread_for_python(
        docs.select("doc_id", "text", "n_chars", "source")
    ).select(
        "doc_id",
        _payload(F.col("doc_id"), F.col("text")).alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.col("n_chars").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("media"),
    )


def decode_stub(payload: bytes, modality: str) -> dict:
    """Byte-level stats (always available, any payload) merged with the
    ``decode_media`` result — the full per-record feature row."""
    n = len(payload)
    media = decode_media(payload, modality)
    if media.get("n_frames") is not None:
        n_frames = media["n_frames"]  # real frame count (animated GIF)
    elif modality == "video":
        # videos sample one "frame" per fixed-size chunk
        n_frames = -(-n // FRAME_BYTES)
    else:
        n_frames = 1
    return {
        "codec": media["codec"],
        "n_bytes": n,
        "first_byte": payload[0] if n else None,
        "last_byte": payload[-1] if n else None,
        "n_frames": n_frames,
        "width": media["width"],
        "height": media["height"],
        "sample_rate": media["sample_rate"],
        "n_samples": media["n_samples"],
        "mean_value": media["mean_value"],
    }


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    One pandas frame per Arrow batch (not per row): the 10-100×
    batching win over row-at-a-time UDFs, and the exact shape a real
    decoder drops into.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_stub(payload, media["modality"])
                for payload, media in zip(pdf["payload"], pdf["media"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "modality", [m["modality"] for m in pdf["media"]])
            yield out

    return with_payload.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_video_frames(with_payload: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling plumbing: explode each video payload into frame
    records (chunk index + chunk length), keeping every Nth frame.
    Pure column expressions — the byte slicing stays JVM-side."""
    videos = with_payload.filter(F.col("media.modality") == "video")
    n_frames = F.ceil(F.length("payload") / F.lit(FRAME_BYTES)).cast("int")
    return (
        videos.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
            F.length("payload").alias("n_bytes"),
        )
        .filter(F.col("frame_idx") % every_nth == 0)
        .select(
            "doc_id",
            "frame_idx",
            F.least(
                F.lit(FRAME_BYTES),
                F.col("n_bytes") - F.col("frame_idx") * FRAME_BYTES,
            ).alias("frame_bytes"),
        )
    )


def features_from_files(spark, media_dir: str) -> DataFrame:
    """The PATH-COLUMN variant of the multimodal pipeline: payloads live
    as FILES (the 100 TB reality — media bytes sit in object storage,
    parquet carries URIs), loaded through Spark's ``binaryFile`` source
    and fed to the SAME Arrow-batched feature extraction as the inline
    BinaryType column. File layout contract:
    ``<media_dir>/<doc_id>_<modality>.bin``; the reader parses both
    from the path, so the feature rows are byte-identical to the
    inline pipeline's (pinned by tests/test_multimodal_codecs.py).

    Scale notes: binaryFile is a real FileFormat — predicate pushdown
    on (path, length, modificationTime) prunes files before any byte
    is read, ``pathGlobFilter`` narrows by extension/pattern, and each
    file is one row of one partition task, so decode parallelism is
    file-level. The 2 GB per-file row limit is the format's; larger
    media shards chunk at ingest."""
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(media_dir)
    )
    name = F.regexp_extract(F.col("path"), r"([^/]+)\.bin$", 1)
    with_meta = binary.select(
        F.split(name, "_")[0].cast("bigint").alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.split(name, "_")[1].alias("modality"),
            F.col("length").alias("declared_size"),
            F.lit("file").alias("origin"),
        ).alias("media"),
    )
    return extract_features(with_meta)


# --------------------------------------------------------------------------
# Container demux (MP3 / Ogg / MP4) — the metadata layer of the codec
# seam. A 100 TB media pipeline filters and samples on CONTAINER facts
# (duration, dims, frame counts, codec id) long before it decodes
# pixels/samples, and the container layer needs no codec library: MP3 is
# a walk of MPEG frame headers, Ogg a walk of "OggS" pages (the Vorbis
# identification packet carries channels + rate, the final granule
# position the total sample count), MP4 a walk of the ISO-BMFF box tree
# (mvhd/tkhd/stsd/stsz). Only the inner sample/pixel decode
# (psychoacoustic / video codecs) stays behind the NotImplementedError
# seam in ``decode_media``.
# --------------------------------------------------------------------------

DEMUX_SCHEMA = (
    "doc_id bigint, container string, codec string, width int, height int, "
    "n_frames int, sample_rate int, n_samples bigint, duration_ms bigint"
)

# MPEG-1 Layer III frame-header tables (ISO/IEC 11172-3)
_MP3_BITRATES = (
    None, 32000, 40000, 48000, 56000, 64000, 80000, 96000, 112000,
    128000, 160000, 192000, 224000, 256000, 320000, None,
)
_MP3_RATES = (44100, 48000, 32000, None)


def synth_mp3(doc_id: int) -> bytes:
    """Deterministic MP3: ID3v2.3 tag + MPEG-1 Layer III frames with
    valid headers (128 kbps, 44.1 kHz, no padding) and filler bodies.
    Frame count = 4 + (doc_id // 2) % 6 — closed form for the oracle."""
    n_frames = 4 + (doc_id // 2) % 6
    tag = b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 0, 10]) + bytes(10)
    frame_len = 144 * 128000 // 44100  # 417, padding bit 0
    frames = []
    for i in range(n_frames):
        body = bytes(((doc_id + i + j) % 256) for j in range(frame_len - 4))
        frames.append(b"\xff\xfb\x90\x00" + body)
    return tag + b"".join(frames)


def demux_mp3(b: bytes) -> dict:
    """Walk ID3 tag + MPEG frame headers; no audio decode."""
    pos = 0
    if b[:3] == b"ID3":
        if len(b) < 10:
            raise ValueError("truncated ID3 header")
        size = (
            ((b[6] & 0x7F) << 21)
            | ((b[7] & 0x7F) << 14)
            | ((b[8] & 0x7F) << 7)
            | (b[9] & 0x7F)
        )
        pos = 10 + size
    frames, rate = 0, None
    while pos + 4 <= len(b):
        h = b[pos : pos + 4]
        if h[0] != 0xFF or (h[1] & 0xFE) != 0xFA:  # MPEG-1 Layer III
            raise ValueError(f"bad MPEG frame sync at {pos}")
        bitrate = _MP3_BITRATES[h[2] >> 4]
        rate = _MP3_RATES[(h[2] >> 2) & 3]
        if bitrate is None or rate is None:
            raise ValueError("reserved bitrate/samplerate index")
        pos += 144 * bitrate // rate + ((h[2] >> 1) & 1)
        frames += 1
    if pos != len(b) or not frames:
        raise ValueError("trailing garbage / empty MP3")
    n_samples = frames * 1152  # MPEG-1 Layer III: 1152 samples per frame
    return {
        "container": "mp3",
        "codec": "mpeg1-layer3",
        "width": None,
        "height": None,
        "n_frames": frames,
        "sample_rate": rate,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate,
    }


def _ogg_page(htype: int, granule: int, serial: int, seq: int, payload: bytes) -> bytes:
    if len(payload) >= 255:
        raise ValueError(f"Ogg page payload of {len(payload)} bytes needs lacing")
    return (
        b"OggS"
        + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + struct.pack("<I", 0)  # CRC not verified by the demuxer
        + bytes([1, len(payload)])
        + payload
    )


def synth_ogg(doc_id: int) -> bytes:
    """Deterministic Ogg Vorbis skeleton: a BOS page carrying the Vorbis
    identification header (type 1) and an EOS page whose granule
    position is the total PCM sample count — exactly the two facts a
    duration scan needs."""
    channels = 1 + (doc_id // 2) % 2
    rate = 22050 if doc_id % 2 == 0 else 44100
    n_samples = 1000 + 17 * ((doc_id // 4) % 50)
    ident = (
        bytes([1])
        + b"vorbis"
        + struct.pack("<IBIiii", 0, channels, rate, 0, 0, 0)
        + bytes([0x88, 1])
    )
    filler = bytes(((doc_id + j) % 256) for j in range(20 + doc_id % 30))
    serial = doc_id % 997
    return _ogg_page(2, 0, serial, 0, ident) + _ogg_page(
        4, n_samples, serial, 1, filler
    )


def demux_ogg(b: bytes) -> dict:
    """Walk Ogg pages; parse the Vorbis identification packet on the
    first page; total samples = final granule position."""
    pos, pages, last_granule = 0, 0, 0
    channels, rate = None, None
    while pos < len(b):
        if b[pos : pos + 4] != b"OggS" or pos + 27 > len(b):
            raise ValueError(f"bad Ogg capture at {pos}")
        granule = struct.unpack_from("<q", b, pos + 6)[0]
        n_segs = b[pos + 26]
        if pos + 27 + n_segs > len(b):
            raise ValueError(f"truncated Ogg segment table at {pos}")
        body_len = sum(b[pos + 27 : pos + 27 + n_segs])
        if pos + 27 + n_segs + body_len > len(b):
            raise ValueError(f"truncated Ogg page body at {pos}")
        body = b[pos + 27 + n_segs : pos + 27 + n_segs + body_len]
        if pages == 0:
            if body[:7] != b"\x01vorbis":
                raise ValueError("first packet is not a Vorbis ident header")
            _, channels, rate = struct.unpack_from("<IBI", body, 7)
        if granule >= 0:
            last_granule = granule
        pages += 1
        pos += 27 + n_segs + body_len
    if not pages or rate is None:
        raise ValueError("empty Ogg stream")
    return {
        "container": "ogg",
        "codec": f"vorbis-{channels}ch",
        "width": None,
        "height": None,
        "n_frames": pages,
        "sample_rate": rate,
        "n_samples": last_granule,
        "duration_ms": last_granule * 1000 // rate,
    }


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


_MP4_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def synth_mp4(doc_id: int) -> bytes:
    """Deterministic minimal ISO-BMFF MP4: ftyp + moov (mvhd, one video
    trak with an avc1 stsd entry and a real sample table) + mdat. The
    sample table is honest — stsz sizes match the mdat bytes and stco
    points at the real mdat payload offset."""
    width = 16 * (1 + (doc_id // 3) % 4)
    height = 16 * (1 + (doc_id // 5) % 3)
    n = 3 + (doc_id // 2) % 5
    sizes = [32 + ((doc_id + 3 * i) % 17) for i in range(n)]
    delta, timescale = 40, 1000  # 25 fps on a millisecond timescale
    duration = n * delta

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mvhd = _box(
        b"mvhd",
        struct.pack(">I", 0)  # version/flags
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + bytes(8)
        + _MP4_MATRIX
        + bytes(24)
        + struct.pack(">I", 2),
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">I", 7)
        + struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">I", 0)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _box(
        b"hdlr", struct.pack(">II", 0, 0) + b"vide" + bytes(12) + b"\x00"
    )
    avc1 = struct.pack(">I", 86) + b"avc1" + (
        bytes(6)
        + struct.pack(">H", 1)  # data reference index
        + bytes(16)
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + bytes(4)
        + struct.pack(">H", 1)
        + bytes(32)
        + struct.pack(">Hh", 24, -1)
    )
    stsd = _box(b"stsd", struct.pack(">II", 0, 1) + avc1)
    stts = _box(b"stts", struct.pack(">IIII", 0, 1, n, delta))
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stsc = _box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, n, 1))

    def moov_for(chunk_offset: int) -> bytes:
        stco = _box(b"stco", struct.pack(">III", 0, 1, chunk_offset))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        vmhd = _box(b"vmhd", struct.pack(">IHHHH", 1, 0, 0, 0, 0))
        dinf = _box(
            b"dinf",
            _box(b"dref", struct.pack(">II", 0, 1) + _box(b"url ", struct.pack(">I", 1))),
        )
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    moov_len = len(moov_for(0))  # stco content doesn't change sizes
    mdat_payload = b"".join(
        bytes(((doc_id + i + j) % 256) for j in range(s))
        for i, s in enumerate(sizes)
    )
    offset = len(ftyp) + moov_len + 8
    return ftyp + moov_for(offset) + _box(b"mdat", mdat_payload)


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf"}


def _walk_boxes(b: bytes, start: int, end: int, found: dict) -> None:
    pos = start
    while pos + 8 <= end:
        size, typ = struct.unpack_from(">I4s", b, pos)
        hdr = 8
        if size == 1:
            # 64-bit largesize header — how every >4 GB video ships
            # (ISO 14496-12 §4.2); a 100 TB corpus is full of these.
            if pos + 16 > end:
                raise ValueError(f"truncated largesize header at {pos}")
            (size,) = struct.unpack_from(">Q", b, pos + 8)
            hdr = 16
        elif size == 0:
            # "extends to end of enclosing container" — legal only for
            # the final box (commonly a trailing mdat).
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad box size {size} at {pos}")
        if typ in _MP4_CONTAINERS:
            _walk_boxes(b, pos + hdr, pos + size, found)
        else:
            found.setdefault(typ, b[pos + hdr : pos + size])
        pos += size
    if pos != end:
        raise ValueError("box walk misaligned")


def demux_mp4(b: bytes) -> dict:
    """Walk the ISO-BMFF box tree; no codec payload is touched."""
    found: dict = {}
    _walk_boxes(b, 0, len(b), found)
    if b"mvhd" not in found or b"stsz" not in found or b"stsd" not in found:
        raise ValueError("missing mvhd/stsz/stsd")
    timescale, duration = struct.unpack_from(">II", found[b"mvhd"], 12)
    n_frames = struct.unpack_from(">I", found[b"stsz"], 8)[0]
    fourcc = found[b"stsd"][12:16].decode("ascii", "replace")
    tkhd = found[b"tkhd"]
    width, height = (v >> 16 for v in struct.unpack_from(">II", tkhd, len(tkhd) - 8))
    return {
        "container": "mp4",
        "codec": f"mp4:{fourcc}",
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "sample_rate": None,
        "n_samples": None,
        "duration_ms": duration * 1000 // timescale,
    }


# --- WebM / Matroska (EBML) ------------------------------------------------

def _ebml_num(b: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Parse one EBML variable-length integer at ``pos``; returns
    (value, next_pos). Element IDs keep the length-marker bit
    (keep_marker=True), sizes strip it."""
    if pos >= len(b):
        raise ValueError("EBML varint past end")
    first = b[pos]
    if first == 0:
        raise ValueError("invalid EBML varint lead byte 0x00")
    length = 9 - first.bit_length()
    if pos + length > len(b):
        raise ValueError("truncated EBML varint")
    # The marker bit for an L-byte varint is bit (8-L) of the lead byte;
    # IDs keep it (the spec compares IDs marker-included), sizes drop it.
    val = first if keep_marker else first & ((0x80 >> (length - 1)) - 1)
    for i in range(1, length):
        val = (val << 8) | b[pos + i]
    return val, pos + length


def _ebml_el(eid: int, payload: bytes) -> bytes:
    """Serialize an EBML element with a 2-byte size field (payloads here
    are < 2^14 bytes)."""
    id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    if len(payload) >= 1 << 14:
        raise ValueError(f"EBML payload of {len(payload)} bytes needs a wider size field")
    return id_bytes + (0x4000 | len(payload)).to_bytes(2, "big") + payload


_WEBM_CONTAINERS = {0x1A45DFA3, 0x18538067, 0x1549A966, 0x1654AE6B, 0xAE, 0xE0}
# EBML header, Segment, Info, Tracks, TrackEntry, Video


def synth_webm(doc_id: int) -> bytes:
    """Deterministic minimal WebM: EBML header (DocType webm) + Segment
    with Info (TimestampScale 1e6 ns, Duration in ms) and one VP9 video
    TrackEntry (PixelWidth/Height). Closed forms of doc_id."""
    width = 32 * (1 + (doc_id // 3) % 4)
    height = 32 * (1 + (doc_id // 5) % 3)
    duration_ms = 200 + 8 * ((doc_id // 2) % 40)

    ebml = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4282, b"webm") + _ebml_el(0x4287, bytes([2])),
    )
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
        + _ebml_el(0x4489, struct.pack(">d", float(duration_ms))),
    )
    video = _ebml_el(
        0xE0,
        _ebml_el(0xB0, width.to_bytes(2, "big"))
        + _ebml_el(0xBA, height.to_bytes(2, "big")),
    )
    track = _ebml_el(
        0xAE,
        _ebml_el(0xD7, bytes([1]))
        + _ebml_el(0x83, bytes([1]))  # TrackType video
        + _ebml_el(0x86, b"V_VP9")
        + video,
    )
    tracks = _ebml_el(0x1654AE6B, track)
    segment = _ebml_el(0x18538067, info + tracks)
    return ebml + segment


def demux_webm(b: bytes) -> dict:
    """Walk the EBML element tree; no codec payload is touched."""
    found: dict = {}

    def walk(start: int, end: int) -> None:
        pos = start
        while pos < end:
            eid, pos = _ebml_num(b, pos, keep_marker=True)
            size, pos = _ebml_num(b, pos, keep_marker=False)
            if pos + size > end:
                raise ValueError(f"EBML element 0x{eid:x} overruns parent")
            if eid in _WEBM_CONTAINERS:
                walk(pos, pos + size)
            else:
                found.setdefault(eid, b[pos : pos + size])
            pos += size

    walk(0, len(b))
    if found.get(0x4282) != b"webm":
        raise ValueError("not a webm DocType")
    if 0xB0 not in found or 0x4489 not in found:
        raise ValueError("missing video dims / duration")
    scale = int.from_bytes(found.get(0x2AD7B1, b"\x0fB@"), "big")  # ns/tick
    duration_ticks = struct.unpack(">d", found[0x4489])[0]
    codec = found.get(0x86, b"?").decode("ascii", "replace")
    return {
        "container": "webm",
        "codec": f"webm:{codec}",
        "width": int.from_bytes(found[0xB0], "big"),
        "height": int.from_bytes(found[0xBA], "big"),
        "n_frames": None,  # no Cluster/SimpleBlock index in the skeleton
        "sample_rate": None,
        "n_samples": None,
        "duration_ms": int(duration_ticks * scale) // 1_000_000,
    }


def synth_flac(doc_id: int) -> bytes:
    """Deterministic FLAC: "fLaC" magic + STREAMINFO + VORBIS_COMMENT +
    PADDING metadata blocks (last-flag on PADDING), followed by fake
    frame bytes the metadata walk must NOT read. All STREAMINFO fields
    are closed forms of doc_id so the oracle can state them in SQL."""
    rate = (32000, 44100, 48000)[doc_id % 3]
    channels = 1 + (doc_id // 3) % 2
    bps = 16 if doc_id % 2 == 0 else 24
    total = 800 + 13 * ((doc_id // 2) % 64)

    v = 0
    for val, bits in (
        (4096, 16),  # min blocksize
        (4096, 16),  # max blocksize
        (14, 24),  # min framesize
        (6000, 24),  # max framesize
        (rate, 20),
        (channels - 1, 3),
        (bps - 1, 5),
        (total, 36),
    ):
        v = (v << bits) | val
    streaminfo = v.to_bytes(18, "big") + bytes(
        (doc_id * 7 + j) % 256 for j in range(16)
    )

    vendor = b"m4i-synth"
    comment = f"TITLE=doc-{doc_id}".encode()
    vorbis = (
        struct.pack("<I", len(vendor))
        + vendor
        + struct.pack("<I", 1)
        + struct.pack("<I", len(comment))
        + comment
    )
    padding = bytes(doc_id % 17)

    def block(btype: int, body: bytes, last: bool) -> bytes:
        return bytes([(0x80 if last else 0) | btype]) + len(body).to_bytes(
            3, "big"
        ) + body

    audio = b"\xff\xf8" + bytes(((doc_id + j) % 256) for j in range(30))
    return (
        b"fLaC"
        + block(0, streaminfo, False)
        + block(4, vorbis, False)
        + block(1, padding, True)
        + audio
    )


def demux_flac(b: bytes) -> dict:
    """Walk the FLAC metadata-block chain (RFC 9639 §8): STREAMINFO
    must come first; the walk stops at the last-flag, never at EOF, so
    trailing audio frames are untouched. No sample decode."""
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos, streaminfo, first = 4, None, True
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated metadata block header")
        header = b[pos]
        btype, last = header & 0x7F, bool(header & 0x80)
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        pos += 4
        if pos + size > len(b):
            raise ValueError(f"metadata block {btype} overruns stream")
        if first and btype != 0:
            raise ValueError("first metadata block is not STREAMINFO")
        first = False
        if btype == 0:
            if size != 34:
                raise ValueError(f"STREAMINFO must be 34 bytes, got {size}")
            streaminfo = b[pos : pos + size]
        pos += size
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    v = int.from_bytes(streaminfo[:18], "big")
    total = v & ((1 << 36) - 1)
    v >>= 36
    bps = (v & 0x1F) + 1
    v >>= 5
    channels = (v & 0x7) + 1
    v >>= 3
    rate = v & ((1 << 20) - 1)
    if not rate:
        raise ValueError("zero sample rate")
    return {
        "container": "flac",
        "codec": f"flac-{bps}b-{channels}ch",
        "width": None,
        "height": None,
        "n_frames": None,
        "sample_rate": rate,
        "n_samples": total,
        "duration_ms": total * 1000 // rate,
    }


_DEMUXERS = (
    (lambda b: b[:3] == b"ID3" or (len(b) > 1 and b[0] == 0xFF), demux_mp3),
    (lambda b: b[:4] == b"OggS", demux_ogg),
    (lambda b: b[4:8] == b"ftyp", demux_mp4),
    (lambda b: b[:4] == b"\x1aE\xdf\xa3", demux_webm),
    (lambda b: b[:4] == b"fLaC", demux_flac),
)


def demux_container(payload: bytes) -> dict:
    """Route a media payload to its container demuxer by magic bytes.
    Malformed containers (truncated boxes, short headers) surface as
    ValueError uniformly — struct underflows are normalized so a crawl
    shard full of garbage dead-letters instead of killing the task."""
    for sniff, fn in _DEMUXERS:
        if sniff(payload):
            try:
                return fn(payload)
            except (struct.error, IndexError) as e:
                raise ValueError(f"malformed {fn.__name__[6:]}: {e}") from e
    raise ValueError("unrecognized container")


def attach_container_payload(docs: DataFrame) -> DataFrame:
    """Compressed-container payload column for the demux pipeline:
    doc_id % 4 routes 0 → MP4, 1 → MP3, 2 → Ogg, 3 → WebM (all
    synthesized with closed-form parameters so the oracle can state the
    expected metadata as SQL over doc_id alone)."""

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series) -> pd.Series:
        def one(d: int) -> bytes:
            m = d % 4
            if m == 0:
                return synth_mp4(d)
            if m == 1:
                return synth_mp3(d)
            if m == 2:
                return synth_ogg(d)
            return synth_webm(d)

        return pd.Series([one(int(d)) for d in doc_id], dtype=object)

    return spread_for_python(docs.select("doc_id")).select(
        "doc_id", _payload(F.col("doc_id")).alias("payload")
    )


def attach_flac_payload(docs: DataFrame) -> DataFrame:
    """FLAC payload column (every doc) for the lossless-audio inventory
    query — separate from the mod-4 container mix so that adding a
    format never perturbs the existing demux oracles."""

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [synth_flac(int(d)) for d in doc_id], dtype=object
        )

    return spread_for_python(docs.select("doc_id")).select(
        "doc_id", _payload(F.col("doc_id")).alias("payload")
    )


def extract_container_metadata(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched container demux over the binary column — one
    pandas frame per Arrow batch, same batching contract as
    ``extract_features``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [demux_container(p) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_payload.mapInPandas(run, schema=DEMUX_SCHEMA)
