"""Spatial query operators over a samples DataFrame.

Re-expresses the reference's query engine (``Query.fs:342-793``) as two-phase
spatial joins on a samples DataFrame ``(cx, cy, e, <layers...>)``:

- phase 1 (coarse): Catalyst range predicates on cell indices — the analogue
  of the reference's ``isNodeFullyOutside`` subtree pruning (Query.fs:352-354),
  pushed down to parquet scans as min/max filters;
- phase 2 (fine): per-sample predicate on the SampleMode position
  (Query.fs:443-608) — Column arithmetic for box/cell/line; polygons are
  tested in numpy (:func:`_winding_np`) inside Arrow-batched kernels: one
  bbox + winding ``sample_inside`` (:func:`_polygon_predicates`) for
  ``inside_polygon`` and the block-path polygon queries, and per polygon
  for the many-polygon ``pip_join``.

The reference resolves merge nodes lazily during traversal (Query.fs:79-338);
this engine resolves merges eagerly at build time (operators/merge.py), so
queries here run on an already-resolved samples set and reproduce the same
(cell, value) outputs (golden tests in tests/test_queries.py).

Every sample's "position" is ``(c + rel) * 2^e`` per SampleMode
(Query.fs:11-40, default Center = 0.5).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import boundary as _bnd
from ..functions import cells as C
from ..functions import cells_np as CN


def query_all(samples: DataFrame, min_exponent: int | None = None) -> DataFrame:
    """All samples, optional LoD cut (Query.fs:435-436 + Config.MinExponent)."""
    if min_exponent is not None:
        samples = lod_cut(samples, min_exponent)
    return samples


def query_generic(
    samples: DataFrame,
    sample_inside,
    node_outside=None,
    node_inside=None,
    rel: tuple[float, float] = (0.5, 0.5),
    with_selection: bool = False,
) -> DataFrame:
    """Generic two-phase query — the caller-supplied predicate triple of the
    reference's ``Query.Generic`` (Query.fs:342-432: isNodeFullyOutside /
    isNodeFullyInside / isSampleInside), re-expressed as Column builders so a
    user can add a new geometry type without touching this module.

    - ``node_outside(x0, y0, x1, y1) -> Column``: True if a cell with world
      bounds [x0,x1)x[y0,y1) is fully outside the query region — phase 1
      prune (subtree skip in the reference; min/max scan pruning here).
    - ``node_inside(x0, y0, x1, y1) -> Column``: True if the cell is fully
      inside — accepts the sample without running the fine test.
    - ``sample_inside(px, py) -> Column``: exact test on the SampleMode
      position (Query.fs:443-608).

    All three receive Columns and must return boolean Columns (pure Catalyst:
    the predicate stays in whole-stage codegen). ``near_line`` is a thin
    wrapper over this surface; ``inside_polygon`` shares its ``node_outside``
    prune and runs its fine test in an Arrow kernel instead.

    ``with_selection=True`` adds the reference Result's selection kind
    (Query.fs:417-431): a ``selection`` column valued 'full' for samples
    accepted by node_inside (FullySelected) and 'cells' for samples passing
    only the fine test (CellsSelected).
    """
    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    if node_outside is not None or node_inside is not None:
        # only when used: every Column op is a Python->JVM round trip, and
        # the block path (blocks.py) passes sample_inside alone
        x0, y0, x1, y1 = _cell_bounds()
    df = samples
    if node_outside is not None:
        df = df.filter(~node_outside(x0, y0, x1, y1))
    fine = sample_inside(px, py)
    if node_inside is not None:
        full = node_inside(x0, y0, x1, y1)
        fine = full | fine
        if with_selection:
            return df.filter(fine).withColumn(
                "selection", F.when(full, F.lit("full")).otherwise(F.lit("cells"))
            )
    elif with_selection:
        return df.filter(fine).withColumn("selection", F.lit("cells"))
    return df.filter(fine)


def _cell_bounds():
    """World bounds (x0, y0, x1, y1) of each sample's cell, as Columns."""
    cx, cy, e = F.col("cx"), F.col("cy"), F.col("e")
    return C.cell_min(cx, e), C.cell_min(cy, e), C.cell_max(cx, e), C.cell_max(cy, e)


def lod_cut(
    samples: DataFrame, min_exponent: int, exponents: list[int] | None = None
) -> DataFrame:
    """Per-location finest level with e >= min_exponent.

    The reference's traversal stops descending when a child's sample exponent
    would drop below ``Config.MinExponent`` (Query.fs:372-380), returning the
    coarsest nodes at-or-above the cut along each branch — equivalently: keep
    a sample iff no *finer* sample with e >= min_exponent covers the same area.
    Implemented as ONE anti-join: every sample emits its ancestor key
    ``(ea, cx >> (ea - e), cy >> (ea - e))`` at each coarser exponent ``ea``
    of the set (one explode over the exponent list), and a sample is dropped
    iff its own key is among them. The keys are not made distinct: an
    anti-join's result does not depend on duplicates on its right side, and
    a ``distinct`` would cost a shuffle stage of its own.
    ``exponents``: caller-known exponent set — skips the discovery scan.
    """
    s = samples.filter(F.col("e") >= F.lit(min_exponent))
    if exponents is not None:
        exps = sorted(e for e in set(exponents) if e >= min_exponent)
    else:
        exps = sorted(r[0] for r in s.select("e").distinct().collect())
    if len(exps) <= 1:
        return s
    levels = s.filter(F.col("e").isin(exps))
    shadows = (
        s.filter(F.col("e").isin(exps[:-1]))
        .select("cx", "cy", "e", F.explode(F.array(*(F.lit(int(x)) for x in exps[1:]))).alias("_ea"))
        .filter(F.col("_ea") > F.col("e"))
        .select(
            "_ea",
            F.expr("shiftright(cx, CAST(_ea - e AS INT))").alias("_acx"),
            F.expr("shiftright(cy, CAST(_ea - e AS INT))").alias("_acy"),
        )
    )
    return levels.join(
        shadows,
        (levels["e"] == shadows["_ea"])
        & (levels["cx"] == shadows["_acx"])
        & (levels["cy"] == shadows["_acy"]),
        "left_anti",
    )


# ---------------------------------------------------------------------------
# J6 InsideBox (Query.fs:447-451)
# ---------------------------------------------------------------------------

def inside_box(
    samples: DataFrame,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose SampleMode position lies in the box (min-inclusive).

    Pure Catalyst range predicate — pushed down to the scan; equivalent to the
    reference's box containment on sample positions (Query.fs:450).
    """
    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    _, sample_inside = _box_predicates(minx, miny, maxx, maxy)
    return samples.filter(sample_inside(px, py))


def _box_predicates(minx: float, miny: float, maxx: float, maxy: float):
    """(node_outside, sample_inside) of the closed box [minx,maxx]x[miny,maxy].

    A node with bounds [x0,x1)x[y0,y1) is fully outside iff it ends at or
    before the box min or starts strictly after the box max: the max side
    stays INCLUSIVE because a sample position exactly on the box max (rel=0
    puts it on a node's min edge) is inside."""
    bx0, by0, bx1, by1 = float(minx), float(miny), float(maxx), float(maxy)

    def node_outside(x0, y0, x1, y1):
        return (x1 <= F.lit(bx0)) | (x0 > F.lit(bx1)) | (y1 <= F.lit(by0)) | (y0 > F.lit(by1))

    def sample_inside(px, py):
        return (
            (px >= F.lit(bx0)) & (px <= F.lit(bx1)) & (py >= F.lit(by0)) & (py <= F.lit(by1))
        )

    return node_outside, sample_inside


def inside_box_pushdown(
    samples: DataFrame,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    exponents: list[int],
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """InsideBox rewritten as per-exponent INTEGER bounds on (cx, cy).

    ``inside_box``'s position predicate ``(cx + rel) * 2^e`` is whole-stage
    codegen'd but cannot reach parquet as a pushed filter (it is derived
    arithmetic). With the exponent set known (it is tree metadata), the same
    box becomes, per level, ``cx BETWEEN ceil(minx/2^e - rel) AND
    floor(maxx/2^e - rel)`` — plain column ranges that land in the scan's
    PushedFilters AND prune ``e`` partition directories of a saved store.
    At 100 TB this is the difference between a full scan and reading only
    the row groups whose cx/cy min-max stats overlap the box.
    """
    import math

    out = None
    for e in sorted(set(exponents)):
        side = 2.0 ** e
        lo_x = math.ceil(minx / side - rel[0])
        hi_x = math.floor(maxx / side - rel[0])
        lo_y = math.ceil(miny / side - rel[1])
        hi_y = math.floor(maxy / side - rel[1])
        lvl = samples.filter(
            (F.col("e") == F.lit(e))
            & F.col("cx").between(lo_x, hi_x)
            & F.col("cy").between(lo_y, hi_y)
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out if out is not None else samples.filter(F.lit(False))


# ---------------------------------------------------------------------------
# J4 InsideCell / J5 IntersectsCell (Query.fs:439-444, 575-592)
# ---------------------------------------------------------------------------

def inside_cell(samples: DataFrame, qcx: int, qcy: int, qe: int) -> DataFrame:
    """Samples fully inside the query cell: ancestor-or-equal containment.

    Integer range predicate at aligned exponents (Query.fs:439-444 via
    GetBoundsForExponent, Prelude.fs:113-133).
    """
    return samples.filter(
        C.is_ancestor_or_equal(F.lit(qcx), F.lit(qcy), F.lit(qe), F.col("cx"), F.col("cy"), F.col("e"))
    )


def _cell_outside(qcx: int, qcy: int, qe: int):
    """node_outside of the query cell's world extent: disjointness of two
    max-EXCLUSIVE boxes (cell areas, unlike the position box of
    :func:`_box_predicates`). Products of powers of two are double-exact."""
    qs = float(2.0 ** qe)
    qx0, qx1 = qcx * qs, (qcx + 1) * qs
    qy0, qy1 = qcy * qs, (qcy + 1) * qs

    def node_outside(x0, y0, x1, y1):
        return (x1 <= F.lit(qx0)) | (x0 >= F.lit(qx1)) | (y1 <= F.lit(qy0)) | (y0 >= F.lit(qy1))

    return node_outside


def intersects_cell(samples: DataFrame, qcx: int, qcy: int, qe: int) -> DataFrame:
    """Samples whose cell area intersects the query cell.

    Includes the supersampling case: a query cell *finer* than the data
    returns the coarser containing sample (Query.fs:575-592; golden
    Tests/QueryTests.fs:122-133).
    """
    return samples.filter(
        C.cells_intersect(F.lit(qcx), F.lit(qcy), F.lit(qe), F.col("cx"), F.col("cy"), F.col("e"))
    )


# ---------------------------------------------------------------------------
# J7 InsidePolygon (Query.fs:454-468, 595-624)
# ---------------------------------------------------------------------------

def _winding_np(px, py, verts: list[tuple[float, float]]):
    """Winding-number point-in-polygon over numpy position arrays (any
    matching shape). Nonzero winding rule, boundary points counted as inside
    (matches the reference's Polygon2d.Contains on the golden fixtures).
    Pinned point for point against an unrolled Catalyst expression of the
    same edge arithmetic (tests/conftest.py ``winding_expr``)."""
    n = len(verts)
    wind = np.zeros(np.shape(px), dtype=np.int64)
    on_edge = np.zeros(np.shape(px), dtype=bool)
    for i in range(n):
        x1, y1 = (float(v) for v in verts[i])
        x2, y2 = (float(v) for v in verts[(i + 1) % n])
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        wind += (y1 <= py) & (py < y2) & (cross > 0)
        wind -= (y2 <= py) & (py < y1) & (cross < 0)
        within_seg = (
            (px >= min(x1, x2)) & (px <= max(x1, x2))
            & (py >= min(y1, y2)) & (py <= max(y1, y2))
        )
        on_edge |= (cross == 0) & within_seg
    return (wind != 0) | on_edge


def _polygon_bbox(verts: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    xs = [float(v[0]) for v in verts]
    ys = [float(v[1]) for v in verts]
    return min(xs), min(ys), max(xs), max(ys)


# Most cells one numpy pass of a polygon kernel tests: Spark's Arrow batches
# are bounded in rows, not cells, and one row of a block table holds w*w
# cells (a 10,000-block batch of 128x128 blocks is 164M cells)
_CELLS_PER_PASS = 1 << 18


def _polygon_predicates(verts: list[tuple[float, float]]):
    """(node_outside, sample_inside) of a polygon, after vertex dedup and CCW
    normalization (Query.fs:455-458): ``node_outside`` is the bbox prune as
    Column builders; ``sample_inside(px, py)`` is bbox + exact winding over
    numpy position arrays, the one per-sample polygon test of both layouts.
    """
    verts = _normalize_polygon(verts)
    if not verts:
        raise ValueError("inside_polygon: empty polygon")
    bx0, by0, bx1, by1 = _polygon_bbox(verts)
    box_outside, _ = _box_predicates(bx0, by0, bx1, by1)

    def sample_inside(px, py):
        inside = (px >= bx0) & (px <= bx1) & (py >= by0) & (py <= by1)
        # winding only where the bbox holds: the same result, and a small
        # polygon's bbox is a few percent of the cells its blocks hold
        inside[inside] = _winding_np(px[inside], py[inside], verts)
        return inside

    return box_outside, sample_inside


def _keep_samples(batch: pa.RecordBatch, sample_inside, rel: tuple[float, float]):
    """Row slices of a samples batch ``(cx, cy, e, ...)`` reduced to the rows
    whose position passes ``sample_inside``; schema unchanged."""
    for start in range(0, batch.num_rows, _CELLS_PER_PASS):
        part = batch.slice(start, _CELLS_PER_PASS)
        e = part.column("e").to_numpy()
        px = CN.sample_pos(part.column("cx").to_numpy(), e, rel[0])
        py = CN.sample_pos(part.column("cy").to_numpy(), e, rel[1])
        yield part.filter(pa.array(sample_inside(px, py)))


def inside_polygon(
    samples: DataFrame,
    verts: list[tuple[float, float]],
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose SampleMode position lies inside the (CCW) polygon.

    Two-phase like ``query_generic``: cell-bounds-vs-polygon-bbox prune
    (Catalyst, prunable), then bbox + exact winding on the sample position in
    one Arrow-batched numpy pass. The vertices stay in Python: a new polygon
    builds no per-vertex Column expression and compiles no new code. Mirrors
    Query.InsidePolygon (Query.fs:454-468) incl. vertex dedup + CCW
    normalization (Polygon2d.WithoutMultiplePoints / IsCcw).
    """
    node_outside, sample_inside = _polygon_predicates(verts)
    pruned = samples.filter(~node_outside(*_cell_bounds()))

    def _kernel(batches):
        for batch in batches:
            yield from _keep_samples(batch, sample_inside, rel)

    return pruned.mapInArrow(_kernel, pruned.schema)


def _normalize_polygon(verts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Drop repeated consecutive vertices (incl. an explicit closing vertex),
    then normalize winding to CCW — Polygon2d.WithoutMultiplePoints + IsCcw,
    the exact preprocessing at Query.fs:455-458. Repeated vertices would make
    degenerate zero-length edges whose cross == 0 marks every collinear point
    "on edge", silently distorting the winding test.
    """
    deduped: list[tuple[float, float]] = []
    for v in verts:
        p = (float(v[0]), float(v[1]))
        if not deduped or deduped[-1] != p:
            deduped.append(p)
    if len(deduped) > 1 and deduped[0] == deduped[-1]:
        deduped.pop()
    area2 = 0.0
    n = len(deduped)
    for i in range(n):
        x1, y1 = deduped[i]
        x2, y2 = deduped[(i + 1) % n]
        area2 += x1 * y2 - x2 * y1
    return deduped if area2 >= 0 else list(reversed(deduped))


def pip_join(
    samples: DataFrame,
    polygons: DataFrame,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Many-polygon point-in-polygon join (the north rule's broadcast PIP
    join against polygon buckets).

    ``polygons``: (poly_id, xs array<double>, ys array<double>) — one row per
    polygon, vertices in order (any winding). Plan: polygons are broadcast
    with a precomputed bbox; phase 1 is a bbox-overlap theta join (broadcast
    nested loop over the tiny dim side — no shuffle of the fact side); phase
    2 is a vectorized numpy winding test over the surviving (sample, polygon)
    pairs in an Arrow-batched kernel. Returns samples + poly_id.
    """
    px = C.sample_pos(F.col("cx"), F.col("e"), rel[0])
    py = C.sample_pos(F.col("cy"), F.col("e"), rel[1])
    pts = samples.withColumn("_px", px).withColumn("_py", py)
    polys = polygons.select(
        "poly_id", "xs", "ys",
        F.array_min("xs").alias("_bx0"), F.array_min("ys").alias("_by0"),
        F.array_max("xs").alias("_bx1"), F.array_max("ys").alias("_by1"),
    )
    cand = pts.join(
        F.broadcast(polys),
        (F.col("_px") >= F.col("_bx0")) & (F.col("_px") <= F.col("_bx1"))
        & (F.col("_py") >= F.col("_by0")) & (F.col("_py") <= F.col("_by1")),
        "inner",
    )

    keep = [c for c in samples.columns] + ["poly_id"]
    out_schema = cand.select(*keep).schema

    def _pip(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                yield pdf[keep]
                continue
            x = pdf["_px"].to_numpy(np.float64)
            y = pdf["_py"].to_numpy(np.float64)
            inside = np.zeros(len(pdf), dtype=bool)
            # group rows by polygon so each polygon's edges vectorize over
            # all its candidate points at once
            for pid, idx in pdf.groupby("poly_id").indices.items():
                row = pdf.iloc[idx[0]]
                verts = list(zip(row["xs"], row["ys"]))
                inside[idx] = _winding_np(x[idx], y[idx], verts)
            yield pdf.loc[inside, keep]

    return cand.mapInPandas(_pip, out_schema)


# ---------------------------------------------------------------------------
# J8 NearLine (Query.fs:471-489)
# ---------------------------------------------------------------------------

def near_line(
    samples: DataFrame,
    ox: float,
    oy: float,
    dx: float,
    dy: float,
    dist: float,
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Samples whose position is within ``dist`` of the infinite line through
    (ox,oy) with direction (dx,dy) (Ray2d.GetDistanceToRay, Query.fs:477-488).

    One exact cross-product distance test on the position per row. The
    band's ``node_outside`` (all four cell corners on one side) is left to
    the block path's block prune: per sample row it is implied by the fine
    test whenever ``rel`` lies in [0, 1]. There the position lies in the
    closed cell [x0, x1] x [y0, y1] (``(c + rel) * 2^e`` rounds monotonically
    in ``rel``, and rel 0 and 1 give exactly the corner values), and the
    signed distance as evaluated — ``ux * (py - oy) - uy * (px - ox)`` in
    doubles — is monotone in each coordinate, because every floating-point
    operation rounds monotonically; so on the cell it lies between its
    smallest and largest corner value, and a cell with every corner beyond
    ``dist`` on one side has its position beyond it too.
    """
    _, sample_inside = _line_predicates(ox, oy, dx, dy, dist)
    return query_generic(samples, sample_inside, rel=rel)


def _line_predicates(ox: float, oy: float, dx: float, dy: float, dist: float):
    """(node_outside, sample_inside) of the band within ``dist`` of the line
    through (ox,oy) along (dx,dy). A zero-length direction has no line: it
    raises here, at plan-build time, in both layouts."""
    if dx * dx + dy * dy == 0:
        raise ValueError("near_line: zero-length direction")
    norm = (dx * dx + dy * dy) ** 0.5
    ux, uy = dx / norm, dy / norm

    def signed(px, py):
        return F.lit(ux) * (py - F.lit(float(oy))) - F.lit(uy) * (px - F.lit(float(ox)))

    def node_outside(x0, y0, x1, y1):
        corners = [signed(x0, y0), signed(x1, y0), signed(x0, y1), signed(x1, y1)]
        all_above = corners[0] > F.lit(float(dist))
        all_below = corners[0] < F.lit(-float(dist))
        for c in corners[1:]:
            all_above = all_above & (c > F.lit(float(dist)))
            all_below = all_below & (c < F.lit(-float(dist)))
        return all_above | all_below

    def sample_inside(px, py):
        return F.abs(signed(px, py)) <= F.lit(float(dist))

    return node_outside, sample_inside


# ---------------------------------------------------------------------------
# J9 Sample.Positions — point-lookup join (Query.fs:645-793)
# ---------------------------------------------------------------------------

def sample_positions(
    samples: DataFrame,
    positions: DataFrame,
    exponents: list[int] | None = None,
    broadcast_positions: bool = True,
) -> DataFrame:
    """For each position (px, py), the sample cell containing it.

    The reference routes positions down the tree by quadrant
    (Query.fs:674-685) — hash partitioning by computed cell key does the same
    in one shuffle. At merge nodes it keeps the *more detailed* result
    (Query.fs:689-739); with merges resolved at build time, that reduces to
    "finest exponent wins" per position, a ranking window.

    positions: DataFrame (pid, px, py). ``broadcast_positions=True`` (the
    default) hints the candidate side broadcast — right when the point set
    is small relative to samples. For HUGE point sets (joining a billion
    probes against the tiles table) pass False: the join becomes a plain
    shuffled equi-join on the cell key and AQE picks the strategy.
    Returns (pid, px, py, cx, cy, e, <layers...>).
    ``exponents``: caller-known exponent set — skips the discovery scan.
    """
    exps = (
        sorted(set(exponents))
        if exponents is not None
        else [r[0] for r in samples.select("e").distinct().collect()]
    )
    cand = None
    for e in exps:
        c = positions.select(
            "pid",
            "px",
            "py",
            C.cell_coord(F.col("px"), e).alias("cx"),
            C.cell_coord(F.col("py"), e).alias("cy"),
            F.lit(e).cast("int").alias("e"),
        )
        cand = c if cand is None else cand.unionByName(c)
    if broadcast_positions:
        cand = F.broadcast(cand)
    hit = samples.join(cand, ["cx", "cy", "e"], "inner")
    w = W.partitionBy("pid").orderBy(F.col("e").asc())
    return hit.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# kNN via cell-ring expansion (north-star extension built on J9)
# ---------------------------------------------------------------------------

def knn(
    samples: DataFrame,
    px: float,
    py: float,
    k: int,
    ring_exponent: int | None = None,
    max_rings: int = 64,
) -> DataFrame:
    """k nearest samples to (px, py) by Euclidean distance on sample centers.

    Cell-ring expansion: probe growing Chebyshev rings of cells at
    ``ring_exponent`` until >= k candidates are found AND the k-th candidate's
    distance is covered by the searched radius (correctness guarantee), then
    exact top-k. Each round is one pruned range scan — no full-table sort.
    """
    if ring_exponent is None:
        ring_exponent = samples.agg(F.max("e")).collect()[0][0]
    side = 2.0 ** ring_exponent
    ccx, ccy = int(px // side), int(py // side)

    qx = C.sample_pos(F.col("cx"), F.col("e"), 0.5)
    qy = C.sample_pos(F.col("cy"), F.col("e"), 0.5)
    dist = F.sqrt(
        (qx - F.lit(float(px))) * (qx - F.lit(float(px)))
        + (qy - F.lit(float(py))) * (qy - F.lit(float(py)))
    )

    r = 1
    while r <= max_rings:
        # box of cells within Chebyshev radius r at ring_exponent
        lo_x, hi_x = (ccx - r) * side, (ccx + r + 1) * side
        lo_y, hi_y = (ccy - r) * side, (ccy + r + 1) * side
        cand = inside_box(samples, lo_x, lo_y, hi_x, hi_y).withColumn("dist", dist)
        top = cand.orderBy(F.col("dist").asc(), F.col("cx"), F.col("cy")).limit(k)
        rows = top.collect()
        # guarantee: the k-th distance must fit inside the searched square's
        # inscribed circle, else a closer sample could sit just outside
        guaranteed = r * side
        if len(rows) >= k and rows[-1]["dist"] <= guaranteed:
            return top
        r *= 2
    return samples.withColumn("dist", dist).orderBy(F.col("dist").asc(), F.col("cx"), F.col("cy")).limit(k)


def knn_join(
    samples: DataFrame,
    positions: DataFrame,
    k: int,
    ring_exponent: int | None = None,
    max_rings: int = 64,
    start_radius: int = 1,
    stage_input: bool = True,
) -> DataFrame:
    """BATCHED kNN: the k nearest samples (by center distance) for EVERY
    probe in ``positions`` (pid, px, py) — the training-pipeline shape
    ("nearest samples for each of 10^9 probes"), resolved in set-oriented
    joins instead of :func:`knn`'s one-point driver loop.

    The reference's batch lookup routes each position down the tree by
    quadrant (Query.fs:645-793); distributed, that inverts into ring-keyed
    equi-joins: every sample is keyed by the ring cell CONTAINING ITS
    CENTER at ``ring_exponent`` (center-keying is exact for center
    distance), and :func:`_knn_rounds` joins each probe's ring of cells to
    those keys. Stragglers past ``max_rings`` escalate to coarser rings;
    a probe set concentrated in empty space costs O(log(distance)) pruned
    joins, never a cartesian scan per probe.

    Returns (pid, px, py, cx, cy, e, <layers...>, dist), exactly k rows per
    probe (fewer iff the whole table has < k samples); tie-break
    (dist, cx, cy) matches :func:`knn` — parity-tested per probe.
    """
    if ring_exponent is None:
        ring_exponent = samples.agg(F.max("e")).collect()[0][0]
    # the samples frame is consumed once per ring round (plus the bbox agg):
    # cut it once so each round joins a materialized/staged frame instead of
    # recomputing the upstream lineage per round. Callers passing an
    # already-staged table can set stage_input=False to skip the copy.
    if stage_input:
        samples = _bnd.cut(samples)
    cx_center = C.sample_pos(F.col("cx"), F.col("e"), 0.5)
    cy_center = C.sample_pos(F.col("cy"), F.col("e"), 0.5)

    def candidates(ring: DataFrame, cur_side: float) -> DataFrame:
        s = samples.select(
            "*",
            F.floor(cx_center / F.lit(cur_side)).cast("long").alias("_rcx"),
            F.floor(cy_center / F.lit(cur_side)).cast("long").alias("_rcy"),
        )
        return ring.join(
            s,
            (s["_rcx"] == ring["_pcx"] + ring["_dx"]) & (s["_rcy"] == ring["_pcy"] + ring["_dy"]),
            "left",
        )

    def data_bbox():
        b = samples.agg(
            F.min(cx_center).alias("x0"), F.min(cy_center).alias("y0"),
            F.max(cx_center).alias("x1"), F.max(cy_center).alias("y1"),
        ).collect()[0]
        return None if b["x0"] is None else tuple(b)

    return _knn_rounds(
        positions, k, 2.0 ** ring_exponent, candidates, data_bbox, samples.columns,
        max_rings, start_radius,
    )


def _knn_rounds(
    positions: DataFrame,
    k: int,
    side: float,
    candidates,
    data_bbox,
    sample_cols: list[str],
    max_rings: int,
    start_radius: int,
) -> DataFrame:
    """The ring loop of both kNN layouts (:func:`knn_join`,
    ``blocks.knn_join_blocks``); the layouts differ only in ``candidates``.

    - ``candidates(ring, cur_side) -> DataFrame``: the probe ring rows
      (pid, px, py, _pcx, _pcy, _dx, _dy: ring cell ``(_pcx + _dx, _pcy +
      _dy)`` at cell size ``cur_side``) LEFT-joined to the samples whose
      center lies in that ring cell, with columns (pid, px, py,
      *sample_cols) among its own; a ring cell without samples keeps one
      row of nulls, so every probe keeps at least one row.
    - ``data_bbox() -> (x0, y0, x1, y1) | None``: a box holding every
      sample (None for an empty table), read only when stragglers remain.

    Each round scores the ring once: a per-probe window (dist, cx, cy),
    nulls last, keeps the top k. The probe's ring covers the Chebyshev
    ball of radius ``r * cur_side`` around it, so k non-null rows among
    them with ``dist_k <= r * cur_side`` certify its top-k (the
    inscribed-circle guarantee of :func:`knn`). The round is cut once; its
    certified rows are output and its uncertified probes (``_rn == 1``)
    are the next round's probes, both read from the cut, so the caller's
    probe frame is scanned by the first round only.

    Base rounds double the cell radius from ``start_radius`` up to
    ``max_rings`` (the result is radius-schedule independent, only the
    round count changes). Stragglers then escalate to geometrically
    COARSER ring cells at cell radius 2 — world radius doubles per round,
    every round still a ring-keyed equi-join — until the covering round,
    whose ring contains the whole data bbox for every remaining probe: its
    candidates are all samples, an exact global top-k (also correct when
    the table holds fewer than k samples, or none).
    """
    qx = C.sample_pos(F.col("cx"), F.col("e"), 0.5)
    qy = C.sample_pos(F.col("cy"), F.col("e"), 0.5)
    dist = F.sqrt(
        (qx - F.col("px")) * (qx - F.col("px")) + (qy - F.col("py")) * (qy - F.col("py"))
    )
    w = W.partitionBy("pid").orderBy(dist.asc_nulls_last(), F.col("cx"), F.col("cy"))
    per_pid = W.partitionBy("pid")
    out_cols = ["pid", "px", "py", *sample_cols, "dist"]
    parts: list[DataFrame] = []

    def _round(probes: DataFrame, cur_side: float, r: int, covering: bool) -> DataFrame:
        """One ring round at cell size ``cur_side``, cell radius ``r``;
        appends its certified rows to ``parts`` and returns the probes it
        left uncertified."""
        # hash-partitioned by pid BEFORE the join, so the per-probe window
        # needs no shuffle of the candidate rows, and the probe scan runs
        # next to the candidates' broadcast instead of after it
        ring = probes.repartition("pid").select(
            "pid", "px", "py",
            F.floor(F.col("px") / F.lit(cur_side)).cast("long").alias("_pcx"),
            F.floor(F.col("py") / F.lit(cur_side)).cast("long").alias("_pcy"),
        )
        for d in ("_dx", "_dy"):
            ring = ring.select("*", F.explode(F.sequence(F.lit(-r), F.lit(r))).alias(d))
        top = candidates(ring, cur_side).select(
            *out_cols[:-1], dist.alias("dist"), F.row_number().over(w).alias("_rn")
        ).filter(F.col("_rn") <= k)
        ok = F.lit(True) if covering else (
            (F.count("dist").over(per_pid) >= k)
            & (F.max("dist").over(per_pid) <= F.lit(float(r) * cur_side))
        )
        # plan cut: the round's output and the next round's probes both
        # read it (see boundary.py for the contract)
        top = _bnd.cut(top.select(*out_cols, "_rn", ok.alias("_ok")))
        parts.append(top.filter(F.col("_ok") & F.col("dist").isNotNull()).select(*out_cols))
        return top.filter((F.col("_rn") == 1) & ~F.col("_ok"))

    probes = positions
    r = max(1, int(start_radius))
    r_last = 0  # largest base radius actually certified (0 = none ran)
    while r <= max_rings:
        probes = _round(probes, side, r, covering=False)
        r_last = r
        if probes.isEmpty():
            return reduce(DataFrame.unionByName, parts)
        r *= 2
    bbox = data_bbox()
    needed = 0.0  # an empty table: the first escalated round covers it
    if bbox is not None:
        # farthest remaining probe's Chebyshev distance to the bbox
        x0, y0, x1, y1 = (F.lit(float(v)) for v in bbox)
        needed = float(probes.agg(F.max(F.greatest(
            F.abs(F.col("px") - x0), F.abs(F.col("px") - x1),
            F.abs(F.col("py") - y0), F.abs(F.col("py") - y1),
        ))).collect()[0][0] or 0.0)
    # the base loop certified no resolution within r_last * side, so
    # escalated rounds with r2*side2 <= that radius are provable no-ops
    # (each a join + an emptiness check): start at the first coarser ring
    # that extends the certified radius
    r2, side2 = 2, side * 2.0
    while r2 * side2 <= float(r_last) * side:
        side2 *= 2.0
    while True:
        covering = r2 * side2 >= needed
        probes = _round(probes, side2, r2, covering=covering)
        if covering or probes.isEmpty():
            return reduce(DataFrame.unionByName, parts)
        side2 *= 2.0
