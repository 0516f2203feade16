"""Morton (Z-order) bit interleaving as a Spark column expression.

Interleaving the bits of two normalized columns into one code orders
rows along a Z-curve, so rows close in BOTH columns get close codes.
The ``zorder_cells`` gate aggregates per code prefix with this
expression, and its DuckDB oracle reproduces the same integer
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def interleave_bits(x: "F.Column", y: "F.Column", bits: int) -> "F.Column":
    """Morton-interleave two non-negative ``bits``-bit ints: bit b of
    ``x`` lands at position 2b, bit b of ``y`` at 2b+1. Pure
    shift/mask expression; ``Column.bitwiseOR/AND`` because Python's
    ``&``/``|`` on Columns are logical operators."""
    if 2 * bits > 62:
        raise ValueError("2*bits must fit a signed 64-bit int")
    # cast to LONG before shifting: on an int-typed input (ntile
    # returns int) shiftleft stays 32-bit and wraps/sign-extends past
    # position 31, silently corrupting codes for bits >= 16
    x, y = x.cast("long"), y.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z
