"""SQL-text builders for plan-literal vector expressions (r13).

Large literal expression trees (codebooks, centroid sets, rotation
matrices, ADC lookup tables) were originally assembled with nested
``F.lit``/``F.array`` calls — thousands of py4j round-trips per query
(measured: 4.16s to BUILD pq_encode's tree for m=8, k=16, d=64 at
sf0.1, vs 0.66s to parse the same expression from one SQL string; the
EXECUTED plan is identical, the driver-side construction is not).
These helpers render the identical expressions as SQL text for a single
``F.expr`` parse.

Float literals use Python ``repr`` (shortest round-trip): Java's
``Double.parseDouble`` reconstructs the identical IEEE-754 bits, so a
SQL-parsed literal equals the ``F.lit(float)`` it replaces bit-for-bit.
"""

from __future__ import annotations


def dlit(x: float) -> str:
    """Shortest round-trip SQL double literal."""
    return f"{float(x)!r}D"


def dbl_array(vals) -> str:
    """``array(<double literals>)`` SQL text."""
    return "array(" + ", ".join(dlit(v) for v in vals) + ")"


def sq_l2_lit(a_sql: str, vals) -> str:
    """Squared L2 between an array-typed SQL expression and a literal
    vector — the exact ``_sq_l2`` tree (zip_with + ordered left fold),
    rendered as text."""
    return (
        f"aggregate(zip_with({a_sql}, {dbl_array(vals)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )
