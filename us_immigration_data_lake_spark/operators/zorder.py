"""Z-order (Morton) clustering keys for multi-dimensional data
skipping (SURVEY.md §2.1 sink extension).

Writing a 100 TB table sorted by one column gives perfect min/max
pruning on that column and none on any other; interleaving the bits
of two (or more) key columns gives a single sort key whose file-level
min/max ranges stay tight on EVERY interleaved dimension — the
standard layout trick (Morton curves; Delta/Iceberg `OPTIMIZE ZORDER
BY`) re-expressed as plain Spark expressions.

The bit-interleave formula is generated ONCE by ``_zterms`` and
rendered per engine (Spark `shiftleft/shiftright` functions, DuckDB
`<</>>` operators) so the gate oracle and the operator can never
drift: both serializations come from the same term list.

Everything is int64 expression math — codegen'd, shuffle-free; the
only shuffle in ``zorder_layout`` is the range repartition that IS the
clustering.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _zterms(cols: tuple[str, ...], bits: int) -> list[tuple[str, int, int]]:
    """(column, source_bit, target_bit) triples of the interleave."""
    out = []
    for i in range(bits):
        for d, c in enumerate(cols):
            out.append((c, i, i * len(cols) + d))
    return out


def zorder_sql(cols: tuple[str, ...], bits: int, dialect: str) -> str:
    """The interleave as SQL text for ``dialect`` ('spark'|'duckdb')."""
    terms = []
    for c, src, dst in _zterms(cols, bits):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({c}, {src}) & 1, {dst})")
        elif dialect == "duckdb":
            terms.append(f"((({c} >> {src}) & 1) << {dst})")
        else:
            raise ValueError(f"unknown dialect {dialect!r}")
    return " + ".join(terms)


def zorder_key(cols: tuple[str, ...], bits: int = 10) -> Column:
    """Morton key interleaving the low ``bits`` bits of each column.

    Callers are responsible for range-reducing the inputs into
    [0, 2**bits) first (e.g. ``col % 1024`` or a rank bucket) — bits
    above the window are ignored by construction.
    """
    if not 1 <= bits * len(cols) <= 62:
        raise ValueError("total interleaved bits must stay within int64")
    return F.expr(zorder_sql(cols, bits, "spark")).cast("long")


def zorder_layout(
    df: DataFrame, cols: tuple[str, ...], bits: int = 10, num_files: int = 200
) -> DataFrame:
    """Cluster rows for write: range-partition then sort by the Morton
    key, so each output file covers a tight hyper-rectangle of the key
    space and parquet min/max stats prune on every dimension.
    """
    keyed = df.withColumn("_zkey", zorder_key(cols, bits))
    return (
        keyed.repartitionByRange(num_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )


def _hilbert_xy2d_numpy(order: int, x, y):
    """Vectorized Hilbert xy→d (the classic iterative rotation form),
    operating on int64 numpy arrays in [0, 2**order)."""
    import numpy as np

    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1 << (order - 1))
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        flip = ry == 0
        neg = flip & (rx == 1)
        x_n = np.where(neg, s - 1 - x, x)
        y_n = np.where(neg, s - 1 - y, y)
        x, y = np.where(flip, y_n, x_n), np.where(flip, x_n, y_n)
        s >>= 1
    return d


def hilbert_key(x_col: str, y_col: str):
    """2-D Hilbert clustering key — strictly better neighbor locality
    than Morton (no Z-shaped jumps between quadrant seams), at the
    cost of not being expressible in closed-form column arithmetic:
    the per-bit quadrant rotation carries state across bit levels, so
    an unrolled native expression blows up exponentially. An
    Arrow-batched pandas_udf (vectorized numpy, no per-row Python) is
    the sanctioned escape hatch here — key generation happens once per
    WRITE, not in the query hot path.

    Inputs must already be range-reduced to [0, 2**10).
    """
    # NOTE: ``pd`` must be a MODULE-level import — pandas_udf resolves
    # the PEP-563 string annotations via get_type_hints against the
    # function's globals
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _h(x: pd.Series, y: pd.Series) -> pd.Series:
        d = _hilbert_xy2d_numpy(10, x.to_numpy(), y.to_numpy())
        return pd.Series(d)

    return _h(F.col(x_col), F.col(y_col))
