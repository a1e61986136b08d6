"""Pure-python/numpy media codecs for the multimodal column pipeline.

The container has no image/audio libraries (PIL, opencv, soundfile);
everything here is pure numpy + stdlib:

- **P6 PPM** (Netpbm spec): ``P6\\n<width> <height>\\n<maxval>\\n`` +
  raw big-endian RGB bytes.
- **WAV/PCM** (RIFF spec): stdlib ``wave`` + numpy frombuffer, with
  time-domain (audio_features) and FFT spectral features.
- **PNG** (ISO/IEC 15948): chunk+CRC parsing, all five scanline
  filters on decode, adaptive filter selection on encode; DEFLATE
  from stdlib ``zlib``.
- **BMP** (24-bit DIB): padded bottom-up rows.
- Baseline JPEG lives in operators/jpeg.py, GIF (LZW) in
  operators/gif.py, MJPEG-AVI demux in operators/avi.py.

These are REAL codecs — bytes to pixel/sample arrays and back — so
the multimodal operators exercise genuine decode→transform→encode
paths end-to-end. Formats without an offline codec (webp, mp3,
inter-frame video) raise NotImplementedError at the dispatch layer
(operators/multimodal.py); swapping in PIL/soundfile there is a
one-function change and the rest of the pipeline (schema, Arrow
batching, partitioning) is identical.
"""

from __future__ import annotations

import io
import wave

import numpy as np


def decode_ppm(content: bytes) -> np.ndarray:
    """P6 binary PPM → uint8 array (height, width, 3). Handles
    whitespace/comment runs in the header per the Netpbm spec."""
    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic + 3 ints (width, height, maxval), '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixels
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    n = width * height * 3
    pixels = np.frombuffer(content, dtype=np.uint8, count=n, offset=pos)
    return pixels.reshape(height, width, 3)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """uint8 (height, width, 3) → P6 binary PPM bytes."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected uint8 RGB (h, w, 3)")
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample — index arithmetic only, so the result
    is bit-deterministic across platforms (no filter kernels, no
    floating-point resampling differences)."""
    h, w = pixels.shape[:2]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return pixels[rows][:, cols]


def decode_wav(content: bytes) -> tuple[int, np.ndarray]:
    """WAV/PCM → (sample_rate, int16 array (frames, channels))."""
    with wave.open(io.BytesIO(content), "rb") as f:
        if f.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        rate = f.getframerate()
        frames = f.getnframes()
        raw = f.readframes(frames)
        samples = np.frombuffer(raw, dtype="<i2").reshape(-1, f.getnchannels())
    return rate, samples


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """int16 (frames, channels) → WAV/PCM bytes."""
    if samples.dtype != np.int16:
        raise ValueError("expected int16 samples")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(samples.shape[1] if samples.ndim > 1 else 1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def audio_features(rate: int, samples: np.ndarray) -> list[float]:
    """Deterministic signal features: duration, RMS energy (per-sample
    normalized), zero-crossing rate, peak amplitude. Mono-mixed first
    (mean across channels in float64)."""
    mono = samples.astype(np.float64).mean(axis=1) if samples.ndim > 1 else samples.astype(np.float64)
    n = len(mono)
    if n == 0:
        return [0.0, 0.0, 0.0, 0.0]
    duration = n / float(rate)
    rms = float(np.sqrt((mono * mono).mean()))
    zcr = float((np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean()) if n > 1 else 0.0
    peak = float(np.abs(mono).max())
    return [duration, rms, zcr, peak]


# ---------------------------------------------------------------------------
# PNG (ISO/IEC 15948): a REAL decoder/encoder with no external codec
# library — DEFLATE comes from stdlib zlib, the rest is chunk parsing
# and per-scanline unfiltering per the public spec. Supported: 8-bit
# depth, color types 0/2/4/6 (grey, RGB, grey+alpha, RGBA), no
# interlace. Baseline JPEG lives in operators/jpeg.py; together they
# close the "compressed images are stubbed" gap for the two dominant
# formats.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (height, width, channels). Validates
    chunk CRCs; supports filter types 0-4 on every scanline."""
    import struct
    import zlib

    if not content.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos < len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", content[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            "unsupported PNG variant (need 8-bit, deflate, no interlace); "
            f"got depth={depth} comp={comp} filter={filt} interlace={interlace}"
        )
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    ch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    # unfilter: channel-vectorized — Up is a whole-row numpy op; Sub/
    # Average/Paeth carry a left-pixel dependency, so they loop per
    # PIXEL (width iterations) with vector ops across channels, never
    # per byte (this sits on the mapInPandas decode hot path).
    out = np.zeros((height, width, ch), dtype=np.int32)
    prev = np.zeros((width, ch), dtype=np.int32)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        cur = (
            np.frombuffer(raw, dtype=np.uint8, count=stride, offset=row_start + 1)
            .astype(np.int32)
            .reshape(width, ch)
            .copy()
        )
        if ftype == 1:  # Sub
            for x in range(1, width):
                cur[x] = (cur[x] + cur[x - 1]) & 0xFF
        elif ftype == 2:  # Up
            cur = (cur + prev) & 0xFF
        elif ftype == 3:  # Average
            cur[0] = (cur[0] + (prev[0] >> 1)) & 0xFF
            for x in range(1, width):
                cur[x] = (cur[x] + ((cur[x - 1] + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur[0] = (cur[0] + prev[0]) & 0xFF  # a=c=0 → predictor is b
            for x in range(1, width):
                a, b, c = cur[x - 1], prev[x], prev[x - 1]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                cur[x] = (cur[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def _png_filter_candidates(cur: np.ndarray, prev: np.ndarray, ch: int):
    """All five spec filters of one scanline, vectorized: encode-side
    filtering references RAW neighbor bytes (not reconstructed ones),
    so left/up/up-left are plain shifted views."""
    left = np.zeros_like(cur)
    left[ch:] = cur[:-ch]
    upleft = np.zeros_like(prev)
    upleft[ch:] = prev[:-ch]
    c = cur.astype(np.int32)
    f0 = cur
    f1 = ((c - left) & 0xFF).astype(np.uint8)
    f2 = ((c - prev) & 0xFF).astype(np.uint8)
    f3 = ((c - ((left.astype(np.int32) + prev) >> 1)) & 0xFF).astype(np.uint8)
    p = left.astype(np.int32) + prev - upleft
    pa = np.abs(p - left)
    pb = np.abs(p - prev)
    pc = np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left,
                     np.where(pb <= pc, prev, upleft))
    f4 = ((c - paeth) & 0xFF).astype(np.uint8)
    return [f0, f1, f2, f3, f4]


def encode_png(
    pixels: np.ndarray, filter_strategy: str = "adaptive"
) -> bytes:
    """uint8 (h, w) or (h, w, {1,2,3,4}) → PNG bytes.

    ``filter_strategy="adaptive"`` picks, per scanline, the filter
    minimizing the sum of absolute signed filtered bytes (the
    standard libpng heuristic — typically 2-5× better DEFLATE ratio
    on natural images than filter 0); ``"none"`` writes filter 0
    everywhere.
    """
    import struct
    import zlib

    if pixels.dtype != np.uint8:
        raise ValueError("expected uint8 pixels")
    if filter_strategy not in ("adaptive", "none"):
        raise ValueError("filter_strategy must be 'adaptive' or 'none'")
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = np.ascontiguousarray(pixels.reshape(h, w * ch))
    parts = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        if filter_strategy == "none":
            parts.append(b"\x00" + cur.tobytes())
        else:
            cands = _png_filter_candidates(cur, prev, ch)
            # minimum sum of |signed byte| (bytes >128 count as 256-b);
            # widen before `256 - f` — on uint8 that literal overflows
            # under NumPy 2 promotion rules
            costs = []
            for f in cands:
                fi = f.astype(np.int32)
                costs.append(int(np.minimum(fi, 256 - fi).sum()))
            best = int(np.argmin(costs))
            parts.append(bytes([best]) + cands[best].tobytes())
        prev = cur.astype(np.int32)
    raw = b"".join(parts)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def spectral_features(rate: int, samples: np.ndarray) -> list[float]:
    """FFT-based spectral features: centroid (Hz), bandwidth (Hz),
    85% rolloff (Hz), flatness (geometric/arithmetic power mean,
    0 = pure tone … 1 = white noise). Magnitude spectrum of the whole
    mono-mixed signal — the deterministic one-shot variant; framed
    STFT features are this computation per window."""
    mono = (
        samples.astype(np.float64).mean(axis=1)
        if samples.ndim > 1
        else samples.astype(np.float64)
    )
    n = len(mono)
    if n < 2:
        return [0.0, 0.0, 0.0, 0.0]
    mag = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, 1.0 / rate)
    total = mag.sum()
    if total == 0.0:
        return [0.0, 0.0, 0.0, 0.0]
    centroid = float((freqs * mag).sum() / total)
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * mag).sum() / total))
    rolloff = float(freqs[np.searchsorted(np.cumsum(mag), 0.85 * total)])
    power = mag * mag + 1e-12
    flatness = float(np.exp(np.log(power).mean()) / power.mean())
    return [centroid, bandwidth, rolloff, flatness]


# ---------------------------------------------------------------------------
# BMP (Windows DIB, BITMAPINFOHEADER): uncompressed 24-bit — rows
# bottom-up, BGR order, 4-byte padded. The simplest container in the
# dispatch set; pure struct + numpy.
# ---------------------------------------------------------------------------


def decode_bmp(content: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → uint8 RGB (h, w, 3)."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", content[10:14])
    hdr_size, w, h, _planes, bpp, comp = struct.unpack(
        "<IiiHHI", content[14:34]
    )
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, comp={comp})"
        )
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        content, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR → RGB
    return rgb[::-1] if flip else rgb


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8 RGB (h, w, 3) → 24-bit bottom-up BMP bytes."""
    import struct

    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected uint8 RGB (h, w, 3)")
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    data = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data
