"""Pure-stdlib PNG codec — the in-sandbox REAL pixel path.

The multimodal operators prefer Pillow when importable, but this
container has no image library, which previously left the real-codec
branches unexecutable (permanent pytest skip). PNG needs nothing
beyond the stdlib — ``zlib`` inflate + per-scanline unfiltering
(RFC 2083) — so this module implements the minimal correct subset:

* decode: 8-bit depth, color types 0/2/3/4/6 (gray, RGB, palette,
  gray+alpha, RGBA), non-interlaced, all five scanline filters;
* encode: filter-0 scanlines, fixed zlib level (deterministic bytes);
* nearest-neighbor resize + integer luma grayscale (deterministic,
  no float rounding ambiguity across platforms).

Per-byte Python loops are fine here: this is the small-image fallback
tier — at scale the Pillow branch (SIMD decode) handles the volume and
this module's job is to keep the pipeline REAL, not fast, where no
image library exists.

Self-contained stdlib-only by design and registered for cloudpickle
by-value serialization: mapInPandas closures can call into it without
requiring mysql_syncer_spark to be importable in executor Python
workers.
"""

from __future__ import annotations

import struct
import sys
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: channels per color type (IHDR byte 9)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_COLOR_TO_MODE = {0: "L", 2: "RGB", 4: "LA", 6: "RGBA"}
_MODE_TO_COLOR = {"L": 0, "RGB": 2, "LA": 4, "RGBA": 6}


def is_png(data: bytes) -> bool:
    return data[:8] == PNG_MAGIC


def png_decode(data: bytes) -> tuple[int, int, str, bytes]:
    """Decode a PNG to ``(width, height, mode, pixels)`` where mode is
    one of L/LA/RGB/RGBA and pixels is a row-major packed byte string
    (palette images are expanded to RGB)."""
    if not is_png(data):
        raise ValueError("not a PNG (bad magic)")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos : pos + 8])
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = chunk
        elif ctype == b"PLTE":
            plte = chunk
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or interlace != 0 or color not in _CHANNELS:
        raise NotImplementedError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace}); the stdlib decoder handles 8-bit "
            "non-interlaced gray/RGB/palette/alpha"
        )
    ch = _CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel payload has the wrong length")
    out = bytearray(stride * h)
    prev = bytearray(stride)
    rp = 0
    for y in range(h):
        f = raw[rp]
        line = bytearray(raw[rp + 1 : rp + 1 + stride])
        rp += 1 + stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 255
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        elif f != 0:
            raise ValueError(f"invalid PNG scanline filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    if color == 3:  # expand palette to RGB
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            rgb[3 * i : 3 * i + 3] = plte[3 * idx : 3 * idx + 3]
        return w, h, "RGB", bytes(rgb)
    return w, h, _COLOR_TO_MODE[color], bytes(out)


def png_encode(w: int, h: int, mode: str, pixels: bytes) -> bytes:
    """Encode packed pixels as a valid PNG (filter-0 scanlines, fixed
    compression level so output bytes are deterministic)."""
    ch = len(mode)
    stride = w * ch
    if len(pixels) != stride * h:
        raise ValueError("pixel buffer does not match dimensions")
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _MODE_TO_COLOR[mode], 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(
    w: int, h: int, mode: str, pixels: bytes, tw: int, th: int
) -> bytes:
    """Nearest-neighbor resample (source pixel = floor scaling — the
    deterministic choice; no kernel, no float)."""
    ch = len(mode)
    out = bytearray(tw * th * ch)
    for ty in range(th):
        srow = (ty * h // th) * w * ch
        orow = ty * tw * ch
        for tx in range(tw):
            s = srow + (tx * w // tw) * ch
            o = orow + tx * ch
            out[o : o + ch] = pixels[s : s + ch]
    return bytes(out)


def to_gray(mode: str, pixels: bytes) -> bytes:
    """Integer ITU-R 601 luma (L = (299R + 587G + 114B) // 1000);
    alpha ignored; already-gray modes pass their luma channel through."""
    ch = len(mode)
    if mode in ("L", "LA"):
        return bytes(pixels[::ch])
    out = bytearray(len(pixels) // ch)
    for i in range(len(out)):
        p = i * ch
        out[i] = (
            299 * pixels[p] + 587 * pixels[p + 1] + 114 * pixels[p + 2]
        ) // 1000
    return bytes(out)


try:  # ship by value into executor workers (see module docstring)
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - older pyspark layouts
    pass
