"""Shared pieces of the pure-Python media codecs (``multimodal.py``,
``webp.py``): one LZW decode loop, one buffered bit writer, one
canonical prefix-code assigner, one decode-size bound and one
quarantine boundary.

Each piece is parameterised by the few facts on which the formats
differ — bit order, LZW root width and width schedule, the symbol
order a canonical code is assigned in — so each algorithm exists
once and the format modules keep only their container and table
logic.
"""

from __future__ import annotations

import functools
import struct

# Decode-size bound, checked against header dimensions before any
# raster, list or coefficient array is sized from them: a few hundred
# crafted header bytes must not be able to demand gigabytes.
MAX_PIXELS = 1 << 26  # 64M px = 192 MB of RGB per raster
MAX_DECODED_BYTES = 1 << 28  # 256 MB of decoded frames per payload


def check_size(what: str, width: int, height: int) -> None:
    """Raise ValueError when a header claims a raster over
    ``MAX_PIXELS``."""
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"{what} {width}x{height} exceeds the {MAX_PIXELS}-pixel "
            "canvas bound"
        )


def check_frames(what: str, n_bytes: int) -> None:
    """Raise ValueError when one payload's frames would decode to more
    than ``MAX_DECODED_BYTES``: a frame count multiplies a checked
    raster past memory as surely as a header dimension does."""
    if n_bytes > MAX_DECODED_BYTES:
        raise ValueError(
            f"{what} exceeds the {MAX_DECODED_BYTES}-byte decoded-frames "
            "bound"
        )


def quarantine(what: str):
    """Decorate a decoder entry point so a malformed stream surfaces
    as ValueError: ``struct.error`` and ``IndexError`` from deep in a
    parser become ``ValueError("malformed <what>: ...")``. The
    featurizers skip a payload that raises ValueError, so one bad
    payload costs one row, never a failed Spark task."""

    def wrap(fn):
        @functools.wraps(fn)
        def entry(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except (struct.error, IndexError) as exc:
                raise ValueError(f"malformed {what}: {exc}") from exc

        return entry

    return wrap


# ------------------------------------------------------------------ LZW

LZW_MAX_WIDTH = 12


def lzw_width(entries: int, root_bits: int, early: int) -> int:
    """Code width for the next code while the decoder's table holds
    ``entries`` codes (roots, CLEAR and END included). The width starts
    at ``root_bits + 1`` and steps up once the table reaches
    ``2**width - early`` entries, capped at 12 bits. GIF steps at the
    powers of two (``early=0``); the TIFF codec here steps two entries
    sooner (``early=2``: its encoder's next free code reaches
    ``2**width - 1``)."""
    w = root_bits + 1
    while w < LZW_MAX_WIDTH and entries >= (1 << w) - early:
        w += 1
    return w


def lzw_decode(
    data: bytes, root_bits: int, expected: int, *, msb: bool, early: int,
    what: str,
) -> bytearray:
    """Variable-width LZW decode with CLEAR = ``2**root_bits`` and
    END = CLEAR + 1. ``msb`` selects the bit packing (MSB-first for
    TIFF, LSB-first for GIF); ``early`` is ``lzw_width``'s schedule.
    Stops after ``expected`` output bytes (some writers omit END);
    anything structurally invalid raises ValueError."""
    clear = 1 << root_bits
    end = clear + 1
    nbits = len(data) * 8
    # two zero bytes of padding: a code (<= 12 bits) spans at most
    # three bytes, so every read is one fixed 3-byte window
    buf = bytes(data) + b"\x00\x00"
    bitpos = 0

    # bit order chosen once here, not per code
    if msb:
        def read(width: int) -> int:
            nonlocal bitpos
            if bitpos + width > nbits:
                raise ValueError(f"truncated {what} LZW stream")
            i = bitpos >> 3
            acc = (buf[i] << 16) | (buf[i + 1] << 8) | buf[i + 2]
            v = (acc >> (24 - (bitpos & 7) - width)) & ((1 << width) - 1)
            bitpos += width
            return v
    else:
        def read(width: int) -> int:
            nonlocal bitpos
            if bitpos + width > nbits:
                raise ValueError(f"truncated {what} LZW stream")
            i = bitpos >> 3
            acc = buf[i] | (buf[i + 1] << 8) | (buf[i + 2] << 16)
            v = (acc >> (bitpos & 7)) & ((1 << width) - 1)
            bitpos += width
            return v

    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    first_width = root_bits + 1
    out = bytearray()
    table = roots[:]
    prev: bytes | None = None
    width = first_width
    step_at = (1 << width) - early  # lzw_width, tracked incrementally
    while len(out) < expected:
        code = read(width)
        if code == clear:
            table = roots[:]
            prev = None
            width = first_width
            step_at = (1 << width) - early
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"invalid first {what} LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"{what} LZW code {code} beyond table")
        if len(table) == step_at and width < LZW_MAX_WIDTH:
            width += 1
            step_at = (1 << width) - early
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError(
            f"{what} LZW stream ended early ({len(out)} < {expected} symbols)"
        )
    del out[expected:]
    return out


# ----------------------------------------------------------- bit writer


class BitWriter:
    """Bit writer for LSB-first (``msb=False``: GIF LZW, VP8L) or
    MSB-first (``msb=True``: TIFF LZW, JPEG) streams. Writes are
    buffered as (value, width) pairs and bit-packed in one vectorized
    pass by ``bytes()``, which zero-pads the last byte and empties the
    buffer."""

    __slots__ = ("vals", "widths", "msb")

    def __init__(self, msb: bool = False):
        self.vals: list[int] = []
        self.widths: list[int] = []
        self.msb = msb

    def write(self, val: int, n: int) -> None:
        self.vals.append(val & ((1 << n) - 1))
        self.widths.append(n)

    def bit_length(self) -> int:
        return sum(self.widths)

    def bytes(self) -> bytes:
        import numpy as np

        if not self.vals:
            return b""
        v = np.array(self.vals, dtype=np.int64)
        nb = np.array(self.widths, dtype=np.int64)
        self.vals = []
        self.widths = []
        # a (value, bit) grid per slice of values: column k is the k-th
        # bit in stream order — bit k (LSB-first) or bit n-1-k
        # (MSB-first) — and columns past a value's width are dropped
        col = np.arange(int(nb.max()))
        parts = []
        for at in range(0, len(v), 1 << 16):
            vs = v[at : at + (1 << 16), None]
            ns = nb[at : at + (1 << 16), None]
            shift = np.maximum(ns - 1 - col, 0) if self.msb else col
            parts.append(((vs >> shift) & 1)[col < ns].astype(np.uint8))
        order = "big" if self.msb else "little"
        return np.packbits(np.concatenate(parts), bitorder=order).tobytes()


# ------------------------------------------------------ prefix codes


def canonical_codes(pairs) -> list[tuple[int, int, int]]:
    """Canonical prefix-code assignment: ``pairs`` is (symbol, length)
    in code order — lengths non-decreasing, ties in whatever symbol
    order the format prescribes. Each code is the previous code plus
    one, shifted left by the length step. Returns (symbol, code,
    length) in the same order (a symbol listed twice keeps both)."""
    out = []
    code = 0
    prev = 0
    for sym, length in pairs:
        code <<= length - prev
        prev = length
        out.append((sym, code, length))
        code += 1
    return out
