"""Z-order (Morton-curve) layout for multi-column scan pruning.

Parquet pruning works off per-file/row-group min-max; sorting by one
column gives perfect pruning on it and none on the others. Interleaving
the bits of two (or more) quantized columns into one Morton code and
range-sorting by THAT gives every interleaved column tight min-max
ranges per file — the standard layout for "filter by either x or y"
scans at data-lake scale.

``zvalue`` is that code as one column: pure integer expressions
(quantize → spread bits → OR-interleave), bit-identical in any engine.
Laying a table out by it is ``repartitionByRange(n, z)`` plus
``sortWithinPartitions(z)`` before the write — one range exchange,
exactly what a single-column sort would cost.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

BITS = 16  # per-dimension resolution; 2 dims × 16 bits = 32-bit codes


def _quantize(col: Column, lo: float, hi: float) -> Column:
    """Map [lo, hi] onto integer [0, 2^BITS-1], clamping outliers."""
    scaled = F.floor(
        (col.cast("double") - F.lit(lo))
        / F.lit(hi - lo)
        * F.lit((1 << BITS) - 1)
    )
    return F.least(
        F.greatest(scaled, F.lit(0)), F.lit((1 << BITS) - 1)
    ).cast("bigint")


def _spread(col: Column, n_dims: int) -> Column:
    """Insert n_dims-1 zero bits between consecutive bits of a BITS-wide
    integer: bit i moves to position i*n_dims."""
    out = F.lit(0).cast("bigint")
    for i in range(BITS):
        bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
        out = out + F.shiftleft(bit, i * n_dims)
    return out


def zvalue(cols: Sequence[tuple[Column | str, float, float]]) -> Column:
    """Morton code interleaving the given (column, lo, hi) dimensions —
    dimension d's bit i lands at position i*n_dims + d."""
    n = len(cols)
    if n < 2:
        raise ValueError("zvalue: need at least 2 dimensions")
    if BITS * n > 63:
        # With 4 dims, bit 15 of dim 3 would land at position 63 (the
        # bigint sign bit, breaking range-sort order); with ≥5 dims shift
        # counts reach ≥64 where the JVM shiftleft wraps mod 64 and
        # silently corrupts codes.
        raise ValueError(
            f"zvalue: {n} dims x {BITS} bits = {BITS * n} code bits "
            "exceeds the 63 usable bits of a signed bigint; reduce the "
            "number of dimensions (max 3 at 16 bits/dim)"
        )
    out = F.lit(0).cast("bigint")
    for d, (c, lo, hi) in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        if not lo < hi:
            raise ValueError(f"zvalue: need lo < hi for dim {d}")
        out = out + F.shiftleft(_spread(_quantize(col, lo, hi), n), d)
    return out
