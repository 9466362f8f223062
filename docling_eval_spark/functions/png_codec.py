"""From-scratch PNG codec over the public W3C/RFC-2083 spec — no Pillow.

The reference carries page/picture images as PIL objects inside dataset
rows (docling_eval/datamodels/dataset_record.py:38-43, utils/utils.py:
271-312); here decode is a pure-function primitive over `binary` payloads
(plans/visualize.py decodes page images with it).

Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA); scanline filters 0-4 (None/Sub/Up/Average/Paeth); critical
chunks with CRC verification; ancillary chunks skipped. Rejected with
ValueError: 16-bit depth, palette (type 3), Adam7 interlace, and image
data that inflates to more or fewer bytes than IHDR declares.

The encoder exists so tests and oracle-gated queries can synthesize
deterministic PNGs exercising every filter path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # n channels -> color type


def _chunks(payload: bytes):
    i = len(_SIG)
    while i + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[i:i + 4])
        ctype = payload[i + 4:i + 8]
        data = payload[i + 8:i + 8 + length]
        if len(data) != length:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(
            ">I", payload[i + 8 + length:i + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r}")
        yield ctype, data
        if ctype == b"IEND":
            return
        i += 12 + length
    raise ValueError("no IEND")


def _unfilter(raw: bytes, width: int, height: int, ch: int) -> np.ndarray:
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("decompressed size mismatch")
    out = np.empty((height, width, ch), dtype=np.uint8)
    prev = np.zeros((width, ch), dtype=np.uint8)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).reshape(width, ch)
        if f == 0:
            recon = line.copy()
        elif f == 1:  # Sub: recon[x] = line[x] + recon[x-1] => cumsum mod 256
            recon = line.astype(np.uint64).cumsum(axis=0).astype(np.uint8)
        elif f == 2:  # Up
            recon = line + prev  # uint8 wraparound IS the mod-256 add
        elif f in (3, 4):  # Average / Paeth: sequential left-dependency
            lanes = line.astype(np.int32)
            up = prev.astype(np.int32)
            recon = np.empty((width, ch), dtype=np.uint8)
            left = np.zeros(ch, np.int32)
            ul = np.zeros(ch, np.int32)
            for x in range(width):
                if f == 3:
                    px = (lanes[x] + (left + up[x]) // 2) % 256
                else:
                    p = left + up[x] - ul
                    pa = np.abs(p - left)
                    pb = np.abs(p - up[x])
                    pc = np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up[x], ul))
                    px = (lanes[x] + pred) % 256
                recon[x] = px
                left = px.astype(np.int32)
                ul = up[x]
        else:
            raise ValueError(f"unknown filter {f}")
        out[y] = recon
        prev = recon
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8 array (critical path only)."""
    if not payload.startswith(_SIG):
        raise ValueError("not a png")
    width = height = None
    color_type = 0
    idat: list[bytes] = []
    for ctype, data in _chunks(payload):
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data))
            if depth != 8:
                raise ValueError("only 8-bit depth supported")
            if color_type not in _CHANNELS:
                raise ValueError(f"color type {color_type} unsupported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            if interlace != 0:
                raise ValueError("Adam7 interlace unsupported")
        elif ctype == b"IDAT":
            idat.append(data)
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    ch = _CHANNELS[color_type]
    expected = (width * ch + 1) * height
    # inflate at most one byte past the declared size, so a small IDAT
    # that expands far beyond its IHDR is refused without being held
    inflater = zlib.decompressobj()
    raw = inflater.decompress(b"".join(idat), expected + 1)
    if len(raw) > expected or inflater.unconsumed_tail:
        raise ValueError("decompressed size exceeds IHDR")
    if not inflater.eof:
        raise ValueError("truncated image data")
    return _unfilter(raw, width, height, ch)


def _filter_line(f: int, lanes: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Encode-side filter: raw scanline (width, ch) int32 -> filtered."""
    width = lanes.shape[0]
    if f == 0:
        return lanes % 256
    if f == 1:
        left = np.vstack([np.zeros_like(lanes[:1]), lanes[:-1]])
        return (lanes - left) % 256
    if f == 2:
        return (lanes - prev) % 256
    if f == 3:
        left = np.vstack([np.zeros_like(lanes[:1]), lanes[:-1]])
        return (lanes - (left + prev) // 2) % 256
    if f == 4:
        out = np.empty_like(lanes)
        left = np.zeros(lanes.shape[1], np.int32)
        ul = np.zeros(lanes.shape[1], np.int32)
        for x in range(width):
            p = left + prev[x] - ul
            pa = np.abs(p - left)
            pb = np.abs(p - prev[x])
            pc = np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev[x], ul))
            out[x] = (lanes[x] - pred) % 256
            left = lanes[x]
            ul = prev[x]
        return out
    raise ValueError(f"unknown filter {f}")


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray, filters: "list[int] | None" = None) -> bytes:
    """(h, w[, ch]) uint8 -> PNG bytes; `filters` picks the per-scanline
    filter type (cycled), defaulting to 0 — lets tests exercise every
    unfilter path against a known pixel array."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = _COLOR_TYPE[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    lanes = a.astype(np.int32)
    prev = np.zeros((w, ch), np.int32)
    body = bytearray()
    fs = filters or [0]
    for y in range(h):
        f = fs[y % len(fs)]
        body.append(f)
        body += _filter_line(f, lanes[y], prev).astype(np.uint8).tobytes()
        prev = lanes[y]
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(body), 6))
            + _chunk(b"IEND", b""))


def synth_png(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic RGB PNG with closed-form pixels: R is the x-gradient
    floor(255x/(w-1)), G and B are the doc-derived constants
    (doc_id+85)%256 and (doc_id+170)%256. Scanline filters cycle 0..4,
    so decoding it exercises every unfilter path."""
    x = np.arange(width, dtype=np.int64)
    r = ((255 * x) // max(width - 1, 1)).astype(np.uint8)
    arr = np.empty((height, width, 3), dtype=np.uint8)
    arr[:, :, 0] = r[None, :]
    arr[:, :, 1] = (doc_id + 85) % 256
    arr[:, :, 2] = (doc_id + 170) % 256
    return encode_png(arr, filters=[0, 1, 2, 3, 4])
