"""Minimal sas7bdat WRITER — test fixtures and small exports.

The reference ingests raw monthly I-94 ``.sas7bdat`` files (its notebook
cell-7 reads one with ``pandas.read_sas``; BASELINE.md's only published
number is that 25-minute read).  Exercising our ingest path end-to-end
therefore needs a real ``.sas7bdat`` file, and none can be committed
from the reference (read-only, and its data is not ours to copy).  So
we synthesize one: this module renders a pandas DataFrame into the
subset of the (publicly documented, reverse-engineered) SAS7BDAT binary
layout that open-source readers understand.

Format knowledge comes from public documentation only:

- "The SAS7BDAT file format" vignette (BioStatMatt / M. Shotwell),
  https://cran.r-project.org/package=sas7bdat — layout of the header,
  page types, and subheader records;
- the open-source readers that implement it (pandas
  ``pandas/io/sas/sas7bdat.py`` + ``sas_constants.py``, Jared Hobbs'
  sas7bdat.py, EPAM parso) — field offsets and signature values.

Written subset (deliberately the simplest valid shape):

- U64 (64-bit) little-endian layout, uncompressed, UTF-8 header flag;
- one META page carrying the row-size, column-size, column-text,
  column-name, column-attributes, and per-column format subheaders;
- pure DATA pages after it — rows packed at the 8-byte-aligned slot
  right after the 40-byte U64 page header, ``block_count`` rows per
  page (exactly the layout both pandas and parso read back);
- doubles first in the row (8-byte IEEE LE), then space-padded
  fixed-width strings — SAS's own column packing;
- datetime64 columns become SAS DATETIME doubles (seconds since
  1960-01-01), date columns become DATE doubles (days since
  1960-01-01), via the format name planted in the format subheader.

Scale note: WRITING sas7bdat at scale is a non-goal (parquet is the
engine's sink; SURVEY.md §2.1 S6/S7).  This exists so the sas7bdat
READ path (sources/sas.py) has a fixture to prove itself against, and
it runs driver-side on purpose.
"""

from __future__ import annotations

import struct
from datetime import date, datetime

import numpy as np
import pandas as pd

MAGIC = (
    b"\x00\x00\x00\x00\x00\x00\x00\x00"
    b"\x00\x00\x00\x00\xc2\xea\x81\x60"
    b"\xb3\x14\x11\xcf\xbd\x92\x08\x00"
    b"\x09\xc7\x31\x8c\x18\x1f\x10\x11"
)

# U64 little-endian subheader signatures (8 bytes each).
SIG_ROW_SIZE = b"\xf7\xf7\xf7\xf7\x00\x00\x00\x00"
SIG_COL_SIZE = b"\xf6\xf6\xf6\xf6\x00\x00\x00\x00"
SIG_COL_TEXT = b"\xfd\xff\xff\xff\xff\xff\xff\xff"
SIG_COL_NAME = b"\xff\xff\xff\xff\xff\xff\xff\xff"
SIG_COL_ATTR = b"\xfc\xff\xff\xff\xff\xff\xff\xff"
SIG_FORMAT = b"\xfe\xfb\xff\xff\xff\xff\xff\xff"

_HEADER_SIZE = 1024
_PAGE_BIT_OFFSET = 32  # U64: page header is 32 bytes, then type/count fields
_SUBHEADER_PTR_LEN = 24  # U64 pointer: offset(8) length(8) compression(1) type(1) pad(6)
_SAS_EPOCH = datetime(1960, 1, 1)

PAGE_META = 0x0000
PAGE_DATA = 0x0100


class _Col:
    """Resolved physical layout for one column."""

    def __init__(self, name: str, kind: str, width: int, fmt: str) -> None:
        self.name = name
        self.kind = kind  # "d" double | "s" string
        self.width = width
        self.fmt = fmt  # "", "DATE", or "DATETIME"
        self.row_offset = 0


def _classify(series: pd.Series) -> _Col:
    name = str(series.name)
    if pd.api.types.is_datetime64_any_dtype(series):
        return _Col(name, "d", 8, "DATETIME")
    if len(series) and isinstance(series.dropna().iloc[0] if series.dropna().size else None, date):
        return _Col(name, "d", 8, "DATE")
    if pd.api.types.is_numeric_dtype(series):
        return _Col(name, "d", 8, "")
    width = max(
        [len(str(v).encode("utf-8")) for v in series.dropna()] or [1]
    )
    return _Col(name, "s", max(width, 1), "")


def _numeric_values(series: pd.Series, col: _Col) -> np.ndarray:
    if col.fmt == "DATETIME":
        secs = (pd.to_datetime(series) - _SAS_EPOCH) / pd.Timedelta(seconds=1)
        return secs.to_numpy(dtype="float64")
    if col.fmt == "DATE":
        days = series.map(
            lambda v: float("nan") if pd.isna(v) else float((v - _SAS_EPOCH.date()).days)
        )
        return days.to_numpy(dtype="float64")
    return pd.to_numeric(series).to_numpy(dtype="float64")


def write_sas7bdat(
    path: str,
    df: pd.DataFrame,
    dataset_name: str = "FIXTURE",
) -> None:
    """Render ``df`` as an uncompressed U64 little-endian sas7bdat file.

    Supported dtypes: numeric (stored as float64), datetime64
    (DATETIME seconds), ``datetime.date`` objects (DATE days), and
    strings (fixed-width, UTF-8, space-padded; NaN -> blank, which SAS
    and readers both treat as missing). Pages are 8192 bytes.
    """
    page_size = 8192
    cols = [_classify(df[c]) for c in df.columns]
    # SAS row packing: doubles first (8-byte aligned), strings after.
    offset = 0
    for c in cols:
        if c.kind == "d":
            c.row_offset = offset
            offset += 8
    for c in cols:
        if c.kind == "s":
            c.row_offset = offset
            offset += c.width
    row_length = offset
    nrows = len(df)

    rows_per_page = (page_size - _PAGE_BIT_OFFSET - 8) // max(row_length, 1)
    if rows_per_page < 1:
        raise ValueError(
            f"row_length {row_length} does not fit a {page_size}-byte page"
        )

    # ---- column text block (names + format names), referenced by
    # (block_index=0, offset, length) pointers.  Offsets are relative
    # to the 2-byte size field.  Bytes 12-20 and 28-36 must be zero:
    # the first text block doubles as the compression-literal probe
    # region in every public reader.
    text = bytearray(40)
    refs: dict[str, tuple[int, int]] = {}

    def _intern(s: str) -> tuple[int, int]:
        if s == "":
            return (0, 0)
        if s not in refs:
            b = s.encode("utf-8")
            # readers slice the text block starting AT the 2-byte size
            # field, so string offsets are size-field-relative (+2)
            refs[s] = (len(text) + 2, len(b))
            text.extend(b)
            while len(text) % 4:
                text.append(0)
        return refs[s]

    name_refs = [_intern(c.name) for c in cols]
    fmt_refs = [_intern(c.fmt) for c in cols]
    while (len(text) + 2) % 8:  # keep the subheader 8-aligned
        text.append(0)
    text_block = struct.pack("<H", len(text)) + bytes(text)

    # ---- subheaders -------------------------------------------------
    ncols = len(cols)

    row_size = bytearray(808)
    row_size[0:8] = SIG_ROW_SIZE
    struct.pack_into("<Q", row_size, 5 * 8, row_length)
    struct.pack_into("<Q", row_size, 6 * 8, nrows)
    struct.pack_into("<Q", row_size, 9 * 8, ncols)  # col_count_p1
    struct.pack_into("<Q", row_size, 10 * 8, 0)  # col_count_p2
    struct.pack_into("<Q", row_size, 15 * 8, 0)  # rows on mix page
    struct.pack_into("<H", row_size, 682, 0)  # lcs
    struct.pack_into("<H", row_size, 706, 8)  # lcp

    col_size = SIG_COL_SIZE + struct.pack("<Q", ncols) + b"\x00" * 8

    col_text = SIG_COL_TEXT + text_block

    # name pointers: 8 bytes of slack after the signature, then one
    # 8-byte (idx, offset, len, pad) vector per column.
    col_name = bytearray(32 + 8 * ncols)
    col_name[0:8] = SIG_COL_NAME
    for i, (off, ln) in enumerate(name_refs):
        base = 16 + 8 * i
        struct.pack_into("<HHH", col_name, base, 0, off, ln)

    # attribute vectors: row offset (8), field width (4), pad, type (1).
    col_attr = bytearray(32 + 16 * ncols)
    col_attr[0:8] = SIG_COL_ATTR
    for i, c in enumerate(cols):
        base = 16 + 16 * i
        struct.pack_into("<Q", col_attr, base, c.row_offset)
        struct.pack_into("<I", col_attr, base + 8, c.width)
        col_attr[base + 14] = 1 if c.kind == "d" else 2

    fmt_subs = []
    for i, c in enumerate(cols):
        fs = bytearray(64)
        fs[0:8] = SIG_FORMAT
        f_off, f_len = fmt_refs[i]
        struct.pack_into("<H", fs, 46, 0)  # format text-block idx
        struct.pack_into("<H", fs, 48, f_off)
        struct.pack_into("<H", fs, 50, f_len)
        struct.pack_into("<H", fs, 52, 0)  # label text-block idx
        struct.pack_into("<H", fs, 54, 0)  # label offset
        struct.pack_into("<H", fs, 56, 0)  # label length (empty)
        fmt_subs.append(bytes(fs))

    subheaders = [bytes(row_size), bytes(col_size), bytes(col_text),
                  bytes(col_name), bytes(col_attr), *fmt_subs]

    # ---- meta page ---------------------------------------------------
    meta = bytearray(page_size)
    struct.pack_into("<H", meta, _PAGE_BIT_OFFSET + 0, PAGE_META)
    struct.pack_into("<H", meta, _PAGE_BIT_OFFSET + 2, len(subheaders))
    struct.pack_into("<H", meta, _PAGE_BIT_OFFSET + 4, len(subheaders))

    ptr_base = _PAGE_BIT_OFFSET + 8
    body = page_size  # subheaders grow downward from the page end
    need = sum(len(s) for s in subheaders)
    if ptr_base + _SUBHEADER_PTR_LEN * len(subheaders) + need > page_size:
        raise ValueError(
            f"metadata ({need} bytes, {ncols} columns) exceeds the "
            f"{page_size}-byte page"
        )
    for i, sub in enumerate(subheaders):
        body -= len(sub)
        meta[body : body + len(sub)] = sub
        p = ptr_base + _SUBHEADER_PTR_LEN * i
        struct.pack_into("<QQBB", meta, p, body, len(sub), 0, 0)

    # ---- data pages --------------------------------------------------
    dbl_vals = {
        c.name: _numeric_values(df[c.name], c) for c in cols if c.kind == "d"
    }
    str_vals = {}
    for c in cols:
        if c.kind == "s":
            str_vals[c.name] = [
                b"" if pd.isna(v) else str(v).encode("utf-8")
                for v in df[c.name]
            ]

    pages = [bytes(meta)]
    for start in range(0, max(nrows, 1), rows_per_page):
        stop = min(start + rows_per_page, nrows)
        page = bytearray(page_size)
        struct.pack_into("<H", page, _PAGE_BIT_OFFSET + 0, PAGE_DATA)
        struct.pack_into("<H", page, _PAGE_BIT_OFFSET + 2, stop - start)
        struct.pack_into("<H", page, _PAGE_BIT_OFFSET + 4, 0)
        base = _PAGE_BIT_OFFSET + 8
        for r in range(start, stop):
            row_at = base + (r - start) * row_length
            for c in cols:
                if c.kind == "d":
                    struct.pack_into(
                        "<d", page, row_at + c.row_offset, dbl_vals[c.name][r]
                    )
                else:
                    raw = str_vals[c.name][r][: c.width]
                    padded = raw + b" " * (c.width - len(raw))
                    page[
                        row_at + c.row_offset : row_at + c.row_offset + c.width
                    ] = padded
        pages.append(bytes(page))

    # ---- header ------------------------------------------------------
    hdr = bytearray(_HEADER_SIZE)
    hdr[0:32] = MAGIC
    hdr[32] = ord("3")  # U64
    hdr[35] = ord("2")  # no extra 4-byte alignment shift
    hdr[37] = 0x01  # little-endian
    hdr[39] = ord("1")  # platform: unix
    hdr[70] = 20  # encoding: utf-8
    ds = dataset_name.encode("utf-8")[:64]
    hdr[92 : 92 + len(ds)] = ds
    hdr[156:164] = b"DATA    "
    created = (datetime(2024, 1, 1) - _SAS_EPOCH).total_seconds()
    struct.pack_into("<d", hdr, 164, created)
    struct.pack_into("<d", hdr, 172, created)
    struct.pack_into("<I", hdr, 196, _HEADER_SIZE)
    struct.pack_into("<I", hdr, 200, page_size)
    struct.pack_into("<I", hdr, 204, len(pages))
    rel = b"9.0401M2"
    hdr[216 : 216 + len(rel)] = rel
    hdr[224:224 + 5] = b"Linux"

    with open(path, "wb") as f:
        f.write(bytes(hdr))
        for p in pages:
            f.write(p)
