"""Minimal real PNG codec — stdlib only (zlib + struct + numpy).

The container ships no image libraries, but PNG's stack is fully coverable
with the standard library: chunk framing + CRC32, zlib/DEFLATE for IDAT,
and the five scanline filters (RFC 2083 / ISO 15948 §9). This module
implements 8-bit GRAYSCALE (color type 0, the training-pipeline thumbnail
shape) both directions:

- ``png_encode(arr, level, filter_type)`` — (h, w) uint8 → PNG bytes.
  ``filter_type`` is a fixed per-row filter (0-4) or "mix" (row % 5,
  exercises every unfilter).
- ``png_decode(data)`` — PNG bytes → (h, w) uint8. Validates the
  signature, each chunk's CRC32, IHDR shape, inflates IDAT (multi-chunk
  streams concatenate), and reverses all five filters. Up-filtered images
  decode fully vectorized (cumsum down rows) — the path the media gates'
  corpus uses; Sub is a per-row cumsum; Average/Paeth fall back to the
  per-pixel recurrence the spec defines.

Audio/video remain deterministic fakes in ops/multimodal.py (no codec is
expressible in stdlib for those) — the seam is documented there.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(
    arr: np.ndarray, level: int = 0, filter_type: int | str = 2
) -> bytes:
    """8-bit grayscale (h, w) → PNG bytes. ``filter_type``: 0-4 fixed per
    row, or "mix" for row % 5."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("png_encode expects a (h, w) grayscale array")
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    rows = bytearray()
    prior = np.zeros(w, dtype=np.uint8)
    for r in range(h):
        raw = arr[r]
        ft = (r % 5) if filter_type == "mix" else int(filter_type)
        if ft == 0:
            out = raw
        elif ft == 1:  # Sub
            left = np.concatenate(([0], raw[:-1])).astype(np.uint8)
            out = (raw - left).astype(np.uint8)
        elif ft == 2:  # Up
            out = (raw - prior).astype(np.uint8)
        elif ft == 3:  # Average
            left = np.concatenate(([0], raw[:-1])).astype(np.uint16)
            out = (raw - ((left + prior.astype(np.uint16)) >> 1)).astype(
                np.uint8
            )
        elif ft == 4:  # Paeth
            left = np.concatenate(([0], raw[:-1])).astype(np.int32)
            up = prior.astype(np.int32)
            ul = np.concatenate(([0], prior[:-1])).astype(np.int32)
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
            )
            out = (raw.astype(np.int32) - pred).astype(np.uint8)
        else:
            raise ValueError(f"bad filter type {ft}")
        rows.append(ft)
        rows.extend(out.tobytes())
        prior = raw
    idat = zlib.compress(bytes(rows), level)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w) uint8. 8-bit grayscale, filters 0-4, CRC
    validated on every chunk."""
    if bytes(data[:8]) != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    w = h = None
    idat = bytearray()
    n = len(data)
    while pos < n:
        (length,) = struct.unpack_from(">I", data, pos)
        tag = bytes(data[pos + 4 : pos + 8])
        payload = bytes(data[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG shape (8-bit grayscale, no interlace "
                    f"only): depth={depth} color={color} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != h * (w + 1):
        raise ValueError("IDAT length does not match dimensions")
    raw = raw.reshape(h, w + 1)
    fts = raw[:, 0]
    rows = raw[:, 1:]
    if (fts == 2).all():
        # the gate corpus path: Up everywhere → one vectorized cumsum
        return np.cumsum(rows, axis=0, dtype=np.uint64).astype(np.uint8)
    out = np.zeros((h, w), dtype=np.uint8)
    prior = np.zeros(w, dtype=np.uint8)
    for r in range(h):
        ft = int(fts[r])
        line = rows[r]
        if ft == 0:
            rec = line.copy()
        elif ft == 1:  # Sub: recon = cumsum of deltas
            rec = np.cumsum(line, dtype=np.uint64).astype(np.uint8)
        elif ft == 2:
            rec = (line + prior).astype(np.uint8)
        elif ft == 3:  # Average — left-recurrence, per the spec
            rec = np.zeros(w, dtype=np.uint8)
            left = 0
            for x in range(w):
                left = (line[x] + ((left + int(prior[x])) >> 1)) & 0xFF
                rec[x] = left
        elif ft == 4:  # Paeth — left-recurrence
            rec = np.zeros(w, dtype=np.uint8)
            left = ul = 0
            for x in range(w):
                up = int(prior[x])
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    up if pb <= pc else ul
                )
                left = (int(line[x]) + pred) & 0xFF
                rec[x] = left
                ul = up
        else:
            raise ValueError(f"bad filter byte {ft} in row {r}")
        out[r] = rec
        prior = rec
    return out


def gradient_image(w: int, h: int) -> np.ndarray:
    """The media gates' deterministic pixel content: row-major
    ``pixel[i] = i % 256`` — its mean and byte-entropy have closed forms
    the DuckDB oracle states (k = n//256 full cycles + r = n%256 rest)."""
    return (np.arange(w * h, dtype=np.uint64) % 256).astype(np.uint8).reshape(
        h, w
    )
