"""SAS PROC FORMAT label parsing (SURVEY.md §2.1, reference source
``I94_SAS_Labels_Descriptions.SAS``).

The reference's dimension tables come from the value statements in that
file — country (``i94cntyl``, :9), port (``$i94prtl``, :302), mode
(``i94model``, :972), state (``i94addrl``, :981). Each block is

    value [$]name
       key = 'label'
       ...
       key = 'label' ;

with numeric keys for plain formats and quoted-string keys for ``$``
(character) formats; labels single-quote SAS-escape embedded quotes by
doubling (``'INT''L FALLS, MN'``). The I94VISA mapping exists only as a
prose comment (no value block), so it is published here as a literal —
exactly what the reference hardcodes.

The file is format METADATA (KBs — a dim source, not data), so it is
read driver-side through the Hadoop FileSystem API (works on local,
HDFS, and s3a paths alike, the same route the streaming sink manifest
reader uses) and parsed with one regex pass; the result is a
``local_frame`` dim frame (a JVM LocalRelation) sized to broadcast into
any join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from us_immigration_data_lake_spark.operators.storage import local_frame

# I94_SAS_Labels_Descriptions.SAS:1046-1051 — comment-only, no value
# block to parse; the reference hardcodes the same three categories.
I94_VISA_CATEGORIES: dict[int, str] = {1: "Business", 2: "Pleasure", 3: "Student"}

_BLOCK_START = re.compile(r"^\s*value\s+(\$?)([A-Za-z_]\w*)\s*$")
# one `key = 'label'` entry; key either a quoted string ($ formats) or
# a bare numeric token; label quoted with '' escaping; an optional
# trailing ; closes the block on the same line
_ENTRY = re.compile(
    r"^\s*(?:'((?:[^']|'')*)'|(-?\d+))\s*=\s*'((?:[^']|'')*)'\s*(;?)\s*$"
)


def _read_text_driver_side(spark: SparkSession, path: str) -> str:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def parse_sas_format_blocks(text: str) -> dict[str, list[tuple[str, str]]]:
    """All ``value`` blocks in a PROC FORMAT source, as
    format-name → [(key, label), ...] with keys/labels unescaped but
    otherwise verbatim (padding preserved). ``$`` prefix retained in
    the name, as SAS users write it."""
    out: dict[str, list[tuple[str, str]]] = {}
    current: str | None = None
    for line in text.splitlines():
        if current is None:
            m = _BLOCK_START.match(line)
            if m:
                current = m.group(1) + m.group(2)
                out[current] = []
            continue
        m = _ENTRY.match(line)
        if m:
            key = m.group(1) if m.group(1) is not None else m.group(2)
            out[current].append(
                (key.replace("''", "'"), m.group(3).replace("''", "'"))
            )
            if m.group(4) == ";":
                current = None
        elif line.strip() == ";":
            current = None
        elif line.strip():
            # unparseable non-blank line inside a block: bad metadata
            # poisons every downstream dim join — fail, don't skip
            raise ValueError(
                f"unparseable line inside SAS value block '{current}': {line!r}"
            )
    if current is not None:
        raise ValueError(f"unterminated SAS value block '{current}'")
    return out


def read_sas_labels(
    spark: SparkSession, path: str, fmt_name: str, trim: bool = True
) -> DataFrame:
    """(code, label) lookup dim parsed from a SAS PROC FORMAT file.

    ``$``-named formats (char, e.g. ``$i94prtl``) ALWAYS yield a
    string ``code`` — an all-numeric char block like {'060', '888'}
    must keep its leading zeros and its join type. Unprefixed formats
    yield bigint only when every key is a bare integer with no leading
    zeros; otherwise string (the reference file itself declares
    ``i94addrl`` without ``$`` yet keys it with quoted state codes, so
    the naming convention alone is not trustworthy). ``trim`` strips
    label padding (the port labels are space-padded to fixed width in
    the reference file); pass False for byte-verbatim labels.
    """
    blocks = parse_sas_format_blocks(_read_text_driver_side(spark, path))
    if fmt_name not in blocks:
        raise KeyError(
            f"format {fmt_name!r} not found in {path}; "
            f"available: {sorted(blocks)}"
        )
    rows = blocks[fmt_name]
    if trim:
        rows = [(k, v.strip()) for k, v in rows]
    numeric = not fmt_name.startswith("$") and all(
        re.fullmatch(r"-?\d+", k) and re.fullmatch(r"-?0|0|-?[1-9]\d*", k)
        for k, _ in rows
    )
    if numeric:
        return local_frame(
            spark, [(int(k), v) for k, v in rows], "code bigint, label string"
        )
    return local_frame(spark, rows, "code string, label string")
