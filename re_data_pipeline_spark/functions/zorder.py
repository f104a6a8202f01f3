"""Z-order (Morton) space-filling-curve keys for multi-dimensional layout.

Why this exists at 100 TB: parquet/Delta data skipping is driven by per-file
and per-row-group min/max stats, which only prune on the *sort* column.  A
table range-partitioned and sorted by the Morton interleave of two (or more)
dimensions gets tight min/max ranges on BOTH dimensions in every file, so
selective filters on either column skip most of the data — the standard
layout trick (Delta OPTIMIZE ZORDER BY, Hudi/Iceberg z-ordering) expressed
as plain integer expressions.

Everything here is exact 64-bit integer math (shift/and/or), so it is
bit-identical across engines and fully oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (shift, mask) steps spreading a 16-bit int so its bits occupy even
# positions of a 32-bit lane: the classic "Interleave bits by binary magic
# numbers" sequence (public-domain Stanford bit-twiddling hacks).
_SPREAD_STEPS = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread16(c: Column) -> Column:
    out = c.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton_key(x: Column | str, y: Column | str) -> Column:
    """Interleave two 16-bit non-negative ints into one 32-bit Morton key
    (x in even bits, y in odd bits)."""
    xc = F.col(x).cast("bigint") if isinstance(x, str) else x.cast("bigint")
    yc = F.col(y).cast("bigint") if isinstance(y, str) else y.cast("bigint")
    return _spread16(xc).bitwiseOR(F.shiftleft(_spread16(yc), 1)).alias("zkey")


def morton_sql(x: str, y: str) -> str:
    """The identical interleave as portable SQL text (for oracles and for
    engines that take SQL strings)."""

    def spread(expr: str) -> str:
        out = f"({expr} & 65535)"
        for shift, mask in _SPREAD_STEPS:
            out = f"(({out} | ({out} << {shift})) & {mask})"
        return out

    return f"({spread(x)} | ({spread(y)} << 1))"
