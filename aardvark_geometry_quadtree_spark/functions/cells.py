"""Cell algebra as Catalyst Column expressions.

Reproduces the cell math of the reference's ``Cell2d`` (parent/quadrant/
bounds-at-exponent: reference ``src/Aardvark.Geometry.Quadtree/Prelude.fs:23-133``,
position→cell ``DataMapping.fs:122-130``) as pure integer/float expressions so
everything stays inside whole-stage codegen — no Python in the hot path.

Conventions (identical to the reference):
- a cell ``(cx, cy, e)`` covers the half-open square
  ``[cx*2^e, (cx+1)*2^e) × [cy*2^e, (cy+1)*2^e)`` — max-exclusive everywhere;
- parent of ``(cx, cy, e)`` is ``(cx >> 1, cy >> 1, e+1)`` (arithmetic shift =
  floor division, correct for negative coordinates);
- "centered" cells (``Cell2d(e)`` straddling the origin) exist only as tree
  *roots* in the reference; this engine keeps them virtual (per-quadrant rows,
  SURVEY.md §7.4.2) so no column-level representation is needed.

All helpers accept Columns or python ints/floats and return Columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# position -> cell  (DataMapping.fs:122-130: GetSampleCell = floor(p * 2^-e))
# ---------------------------------------------------------------------------

def pow2(e) -> Column:
    """2^e as double (e may be negative)."""
    return F.pow(F.lit(2.0), _c(e))


def cell_coord(p, e) -> Column:
    """World coordinate -> cell index at exponent ``e``: floor(p / 2^e) as long."""
    return F.floor(_c(p) / pow2(e)).cast("long")


# ---------------------------------------------------------------------------
# hierarchy (Prelude.fs:23-48)
# ---------------------------------------------------------------------------

def shift_right(c, k) -> Column:
    """Arithmetic shift right with a *column* shift amount.

    Spark's ``shiftright`` needs a literal bit count; for column ``k`` we use
    floor division via pmod, which is exact on longs (no double rounding):
    ``(c - pmod(c, 2^k)) / 2^k``.
    """
    if isinstance(k, int):
        return F.shiftright(_c(c).cast("long"), k)
    m = F.pow(F.lit(2.0), _c(k)).cast("long")  # 2^k is exact in double for k <= 62
    c = _c(c).cast("long")
    return ((c - F.pmod(c, m)) / m).cast("long")


def parent_coord(c, levels=1) -> Column:
    """Cell index of the ancestor ``levels`` exponents up (Prelude.fs:23-31)."""
    return shift_right(c, levels)


def quadrant(cx, cy) -> Column:
    """Quadrant index of a cell within its parent: (cx&1) | ((cy&1)<<1)."""
    return (F.pmod(_c(cx), F.lit(2)) + F.pmod(_c(cy), F.lit(2)) * 2).cast("int")


# ---------------------------------------------------------------------------
# bounds (Prelude.fs:113-133: GetBoundsForExponent) — max-exclusive Box2l
# ---------------------------------------------------------------------------

def bounds_min(c, e, target_e) -> Column:
    """Min cell index (inclusive) covered at ``target_e`` (requires target_e <= e)."""
    if isinstance(e, int) and isinstance(target_e, int):
        return (_c(c).cast("long") * (1 << (e - target_e))).cast("long")
    scale = F.pow(F.lit(2.0), _c(e) - _c(target_e)).cast("long")
    return (_c(c).cast("long") * scale).cast("long")


def bounds_max_excl(c, e, target_e) -> Column:
    """Max cell index (exclusive) covered at ``target_e``."""
    if isinstance(e, int) and isinstance(target_e, int):
        return ((_c(c).cast("long") + 1) * (1 << (e - target_e))).cast("long")
    scale = F.pow(F.lit(2.0), _c(e) - _c(target_e)).cast("long")
    return ((_c(c).cast("long") + 1) * scale).cast("long")


def cell_min(c, e) -> Column:
    """World-space min corner of the cell (double)."""
    return _c(c).cast("double") * pow2(e)


def cell_max(c, e) -> Column:
    """World-space max corner (exclusive) of the cell (double)."""
    return (_c(c).cast("double") + 1.0) * pow2(e)


# ---------------------------------------------------------------------------
# sample positions (Query.fs:11-27 SampleMode; default = Center)
# ---------------------------------------------------------------------------

def sample_pos(c, e, rel=0.5) -> Column:
    """World position of the sample point inside the cell: (c + rel) * 2^e.

    ``rel=0.5`` is SampleMode.Center (the reference default, Query.fs:29-40);
    0.0 = BottomLeft edge, custom rel = CustomRelativePosition.
    """
    return (_c(c).cast("double") + _c(rel)) * pow2(e)


# ---------------------------------------------------------------------------
# cell-vs-cell relations (used by InsideCell / IntersectsCell joins)
# ---------------------------------------------------------------------------

def is_ancestor_or_equal(acx, acy, ae, dcx, dcy, de) -> Column:
    """True iff cell A (at exponent ae) contains-or-equals cell D (de <= ae).

    The shift amount is clamped to >= 0 because Column ``&`` does not
    short-circuit: when de > ae the guard is false but the shift expression
    still evaluates (a negative amount would divide by 2^k = 0 under ANSI).
    """
    k = F.greatest((_c(ae) - _c(de)).cast("int"), F.lit(0))
    return (
        (_c(de) <= _c(ae))
        & (parent_coord(dcx, k) == _c(acx).cast("long"))
        & (parent_coord(dcy, k) == _c(acy).cast("long"))
    )


def cells_intersect(acx, acy, ae, bcx, bcy, be) -> Column:
    """True iff the two cells' areas overlap (one is ancestor-or-equal of the other)."""
    return is_ancestor_or_equal(acx, acy, ae, bcx, bcy, be) | is_ancestor_or_equal(
        bcx, bcy, be, acx, acy, ae
    )


# ---------------------------------------------------------------------------
# quadkey packing (optional single-column join/partition key)
# ---------------------------------------------------------------------------

# Budget (SURVEY.md §7.4.7): 27 bits per signed coordinate + 8 bits exponent
# fits coords in [-2^26, 2^26) and e in [-128, 127] — ample for the test
# envelope (±2000·2^10) while leaving (cx,cy,e) unpacked as the safe default.
_QK_COORD_BITS = 27
_QK_BIAS = 1 << (_QK_COORD_BITS - 1)


def quadkey(cx, cy, e) -> Column:
    """Pack (cx, cy, e) into one long for single-column joins/partitioning."""
    return (
        ((_c(e).cast("long") + 128) * F.lit(1 << (2 * _QK_COORD_BITS)))
        + ((_c(cx).cast("long") + _QK_BIAS) * F.lit(1 << _QK_COORD_BITS))
        + (_c(cy).cast("long") + _QK_BIAS)
    ).cast("long")
