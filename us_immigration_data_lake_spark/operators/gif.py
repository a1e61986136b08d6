"""GIF87a/89a decoder and encoder (pure stdlib + numpy) — the LZW
variable-code-width codec per the public GIF specification.

Scope: decodes the first image frame (animated GIFs: pass
``frame_index``), global + local color tables, interlaced and
non-interlaced, transparency via the Graphic Control Extension
(transparent pixels surface as index rows; RGB output substitutes the
palette color — alpha handling belongs to the caller). Encoder writes
a single-frame GIF89a with a power-of-two palette built from the
image's distinct colors (≤256 required — GIF is an indexed format;
quantization of true-color images is out of scope and raises).
"""

from __future__ import annotations

import struct

import numpy as np

GIF_SIGS = (b"GIF87a", b"GIF89a")


# ---------------------------------------------------------------------------
# LZW (GIF variant: variable code width, clear/EOI codes, MSB-in-LSB
# bit packing inside 255-byte sub-blocks)
# ---------------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    out_n = 0

    # bitstream, LSB-first
    acc = 0
    nbits = 0
    pos = 0
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    while out_n < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("GIF LZW data truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size

        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError(f"invalid LZW code {code}")
        if prev is not None and len(table) - 1 == (1 << code_size) - 1 and code_size < 12:
            code_size += 1
        arr = np.frombuffer(entry, dtype=np.uint8)
        take = min(len(arr), n_pixels - out_n)
        out[out_n : out_n + take] = arr[:take]
        out_n += take
        prev = entry
    if out_n < n_pixels:
        raise ValueError(f"GIF LZW stream ended early ({out_n}/{n_pixels} px)")
    return out


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, code_size)
    buf = b""
    for px in indices.tobytes():
        cand = buf + bytes([px])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], code_size)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code == (1 << 12):
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        buf = bytes([px])
    if buf:
        emit(table[buf], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(content: bytes) -> np.ndarray:
    """GIF bytes → uint8 RGB array (h, w, 3) of the first frame."""
    if content[:6] not in GIF_SIGS:
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x} at {pos}")
        # image descriptor
        _x, _y, w, h, iflags = struct.unpack("<HHHHB", content[pos + 1 : pos + 10])
        pos += 10
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            lct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        else:
            lct = gct
        min_code_size = content[pos]
        pos += 1
        chunks = bytearray()
        while content[pos] != 0:
            ln = content[pos]
            chunks += content[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        if lct is None:
            raise ValueError("GIF frame has no color table")
        idx = _lzw_decode(min_code_size, bytes(chunks), w * h)
        if iflags & 0x40:  # interlaced: reorder rows by the 4 passes
            rows = idx.reshape(h, w)
            ordered = np.empty_like(rows)
            src = 0
            for start, step in _INTERLACE_PASSES:
                for y in range(start, h, step):
                    ordered[y] = rows[src]
                    src += 1
            idx = ordered.reshape(-1)
        return lct[idx].reshape(h, w, 3)
    raise ValueError("GIF has no frame")


def encode_gif(pixels: np.ndarray) -> bytes:
    """uint8 RGB (h, w, 3) with ≤256 distinct colors → GIF89a bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected uint8 RGB (h, w, 3)")
    h, w = pixels.shape[:2]
    flat = pixels.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(
            f"{len(colors)} distinct colors: GIF is indexed (≤256); "
            "quantize upstream"
        )
    depth = max(1, int(len(colors) - 1).bit_length())  # palette size 2^depth
    n_pal = 1 << depth
    palette = np.zeros((n_pal, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07) | ((depth - 1) << 4), 0, 0)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code_size = max(2, depth)
    out.append(min_code_size)
    data = _lzw_encode(min_code_size, idx.astype(np.uint8))
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
