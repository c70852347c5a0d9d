"""Tiling build (reference S1/S2): samples -> tiles, tree structure stats.

The reference's ``Quadtree.Build`` (Quadtree.fs:239-257, recursion :194-235)
recursively splits a raster into 4 quadrants until the tile edge is
``<= 2^SplitLimitPowerOfTwo`` (default 8 -> 256x256 tiles, Quadtree.fs:15-21).
In Spark the recursion inverts into a single bottom-up shuffle: every sample
cell knows its leaf tile key ``(cx >> split, cy >> split, e + split)``
up front, so the build is one ``groupBy(tile)`` — empty quadrants never
materialize because no row carries their key.

Scale notes (100 TB): the groupBy shuffles once on the tile key; map-side
partial aggregation collapses each input partition to per-tile partials
first. Hot tiles (skewed geocodes) are handled by AQE skew split.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SPLIT = 8  # SplitLimitPowerOfTwo default, Quadtree.fs:15-21


def with_tile_key(samples: DataFrame, split: int = DEFAULT_SPLIT) -> DataFrame:
    """Add leaf-tile key columns. Invariant (Node.fs:31-33):
    ``tile_e = e + split`` — a tile holds at most ``2^split × 2^split`` samples."""
    return (
        samples.withColumn("tile_cx", F.shiftright(F.col("cx"), split))
        .withColumn("tile_cy", F.shiftright(F.col("cy"), split))
        .withColumn("tile_e", (F.col("e") + split).cast("int"))
    )


def build_tiles(
    samples: DataFrame, split: int = DEFAULT_SPLIT, layers: list[str] | None = None
) -> DataFrame:
    """Tile-level stats view: one row per leaf tile with exact bounding box
    and occupancy — the engine's ``ExactBoundingBox`` (Node.fs:196-204) and
    occupancy stats (Layer.fs:429-446), maintained as plain aggregates so
    Parquet min/max stats reproduce the reference's subtree pruning for free.
    """
    layers = layers or [c for c in samples.columns if c not in ("cx", "cy", "e", "patch_id")]
    aggs = [
        F.count(F.lit(1)).alias("n_samples"),
        F.min("cx").alias("ebb_min_cx"),
        F.min("cy").alias("ebb_min_cy"),
        (F.max("cx") + 1).alias("ebb_max_cx"),
        (F.max("cy") + 1).alias("ebb_max_cy"),
    ]
    for name in layers:
        aggs.append(F.count(F.col(name)).alias(f"n_def_{name}"))
    return (
        with_tile_key(samples, split)
        .groupBy("tile_cx", "tile_cy", "tile_e", "e")
        .agg(*aggs)
    )


_INT_BUFFER_TYPES = {"tinyint", "smallint", "int", "bigint", "boolean"}
_FLOAT_BUFFER_TYPES = {"float", "double"}


def packable_layer_types(df: DataFrame, layers: list[str]) -> dict[str, str]:
    """Spark type per layer, validated against what the packed buffer format
    can represent losslessly. The reference serializes TYPED per-semantic
    buffers (Defs.fs / Serialization.fs:318-335); the Spark isomorph keeps
    two buffer families — ``array<long>`` for the integer family (tinyint/
    smallint/int/bigint/boolean) and ``array<double>`` for float/double —
    and records the exact source type so load casts back. Array-typed
    semantics (Normals3d, Colors*, bilinear params) are stored as their
    component scalar columns (the registry's decomposition), so a raw
    array/struct layer here is a usage error, not a silent double round-trip.
    """
    dt = dict(df.dtypes)
    out: dict[str, str] = {}
    for name in layers:
        t = dt.get(name)
        if t is None:
            raise ValueError(f"pack_tiles: layer '{name}' not in frame")
        if t not in _INT_BUFFER_TYPES and t not in _FLOAT_BUFFER_TYPES:
            raise ValueError(
                f"pack_tiles: layer '{name}' has unsupported type '{t}' — packed "
                "buffers hold scalar numeric/boolean layers; store array-valued "
                "semantics as their component columns (registry decomposition)"
            )
        out[name] = t
    return out


def pack_tiles(
    samples: DataFrame,
    split: int = DEFAULT_SPLIT,
    layers: list[str] | None = None,
) -> DataFrame:
    """Packed tiles view: one row per leaf tile with row-major array payload.

    The analogue of the reference's leaf ``QNode`` + ``DataMapping``
    (Node.fs:26-116, DataMapping.fs:24-145): per layer a flat array of
    ``win_sx * win_sy`` values over the tile's exact data window (tight
    window, not the full 2^split square), null/NaN for holes, plus an
    occupancy mask AND a per-layer defined-mask (the reference's per-layer
    ``Mask1b``, Layer.fs:120-146/Defs.fs:115: a cell can exist while one
    layer's value is undefined there). Arrow-batched ``applyInPandas``
    kernel — vectorized numpy scatter, no per-row Python.

    Buffers are TYPED per layer family: integer-family layers (tinyint/
    smallint/int/bigint/boolean) pack as ``array<long>``, float-family as
    ``array<double>`` — no silent int->double round-trip (bigint values are
    exact; the Arrow/pandas boundary constrains nullable bigint columns to
    |v| < 2^53, noted in the store manifest contract). Unsupported layer
    types fail loudly (see :func:`packable_layer_types`).

    Kept next to :func:`..blocks.pack_blocks`: aligned blocks cannot stand in
    for tight tiles at the default ``split=8`` — on 20k sparse cells this
    wrote 416 KB while ``pack_blocks(bits=8)`` did not finish (ROADMAP
    direction 8).
    """
    layers = layers or [c for c in samples.columns if c not in ("cx", "cy", "e", "patch_id")]
    types = packable_layer_types(samples, layers)
    keyed = with_tile_key(samples, split)

    out_fields = [
        "tile_cx long", "tile_cy long", "tile_e int", "e int",
        "win_min_cx long", "win_min_cy long", "win_sx int", "win_sy int",
        "n_samples long",
    ]
    for name in layers:
        buf_t = "long" if types[name] in _INT_BUFFER_TYPES else "double"
        out_fields.append(f"{name}_arr array<{buf_t}>")
        out_fields.append(f"{name}_mask array<boolean>")
    out_fields.append("mask array<boolean>")
    out_schema = ", ".join(out_fields)
    int_layers = {n for n in layers if types[n] in _INT_BUFFER_TYPES}

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        cx = pdf["cx"].to_numpy(np.int64)
        cy = pdf["cy"].to_numpy(np.int64)
        mnx, mny = cx.min(), cy.min()
        sx = int(cx.max() - mnx + 1)
        sy = int(cy.max() - mny + 1)
        idx = (cy - mny) * sx + (cx - mnx)
        mask = np.zeros(sx * sy, dtype=bool)
        mask[idx] = True
        row = {
            "tile_cx": pdf["tile_cx"].iloc[0],
            "tile_cy": pdf["tile_cy"].iloc[0],
            "tile_e": pdf["tile_e"].iloc[0],
            "e": pdf["e"].iloc[0],
            "win_min_cx": mnx,
            "win_min_cy": mny,
            "win_sx": sx,
            "win_sy": sy,
            "n_samples": len(pdf),
        }
        for name in layers:
            # per-layer Mask1b: defined = cell present AND value not a hole
            defined = pdf[name].notna().to_numpy()
            dmask = np.zeros(sx * sy, dtype=bool)
            dmask[idx[defined]] = True
            if name in int_layers:
                buf = np.zeros(sx * sy, dtype=np.int64)
                vals = pd.to_numeric(pdf[name][defined]).to_numpy(np.int64)
                buf[idx[defined]] = vals
                # undefined slots stay 0 in the buffer; the mask is the truth
            else:
                buf = np.full(sx * sy, np.nan)
                buf[idx[defined]] = pdf[name][defined].to_numpy(np.float64)
            row[f"{name}_arr"] = [buf.tolist()]
            row[f"{name}_mask"] = [dmask.tolist()]
        row["mask"] = [mask.tolist()]
        for k in ("tile_cx", "tile_cy", "tile_e", "e", "win_min_cx", "win_min_cy",
                  "win_sx", "win_sy", "n_samples"):
            row[k] = [row[k]]
        return pd.DataFrame(row)

    return keyed.groupBy("tile_cx", "tile_cy", "tile_e", "e").applyInPandas(_pack, out_schema)


def unpack_tiles(
    tiles: DataFrame, layers: list[str], layer_types: dict[str, str] | None = None
) -> DataFrame:
    """Inverse of :func:`pack_tiles`: packed tiles -> samples rows.

    Uses ``posexplode`` on the payload array (JVM-side) so the explosion
    never round-trips through Python. Per-layer masks restore the canonical
    NULL encoding for layer holes (a cell kept by the occupancy mask can
    still be undefined in an individual layer — Mask1b semantics).
    ``layer_types``: exact source Spark type per layer (recorded by
    ``save_packed``'s manifest) — each unpacked layer is cast back so the
    round-trip preserves the schema, not just the values.
    """
    zipped = [F.col(f"{n}_arr") for n in layers]
    zipped += [F.col(f"{n}_mask") for n in layers]
    zipped.append(F.col("mask"))
    df = tiles.select(
        "win_min_cx", "win_min_cy", "win_sx", "e",
        F.posexplode(F.arrays_zip(*zipped)).alias("pos", "z"),
    ).filter(F.col("z.mask"))
    cols = [
        (F.col("win_min_cx") + F.pmod(F.col("pos"), F.col("win_sx"))).cast("long").alias("cx"),
        (F.col("win_min_cy") + (F.col("pos") / F.col("win_sx")).cast("int")).cast("long").alias("cy"),
        F.col("e"),
    ]
    for n in layers:
        col = F.when(F.col(f"z.{n}_mask"), F.col(f"z.{n}_arr")).otherwise(F.lit(None))
        if layer_types and n in layer_types:
            col = col.cast(layer_types[n])
        cols.append(col.alias(n))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# tree structure (root cell, node counts) — parity with Quadtree.Count*
# ---------------------------------------------------------------------------

@dataclass
class RootCell:
    """Root cell of the (virtual) quadtree. ``centered`` marks the reference's
    origin-straddling ``Cell2d(e)`` roots (Prelude.fs:33-48) — kept virtual
    here: only structure stats ever materialize it (SURVEY.md §7.4.2)."""

    cx: int
    cy: int
    e: int
    centered: bool


def root_cell_of_bbox(minx: float, miny: float, maxx: float, maxy: float) -> RootCell:
    """Smallest cell containing the (max-exclusive) bbox — ``Cell2d(Box2d)``.

    Regular cells have corners on the 2^e grid, so a box straddling the
    origin in either axis can only be covered by a centered cell
    ``[-2^(e-1), 2^(e-1))^2``; otherwise the smallest regular cell wins.
    """
    straddle = (minx < 0 < maxx) or (miny < 0 < maxy)
    if straddle:
        m = max(abs(minx), abs(maxx), abs(miny), abs(maxy))
        e = math.ceil(math.log2(m)) + 1
        while 2.0 ** (e - 1) < m:
            e += 1
        return RootCell(0, 0, e, True)
    ext = max(maxx - minx, maxy - miny)
    e = math.ceil(math.log2(ext)) if ext > 0 else 0
    while True:
        s = 2.0 ** e
        cx, cy = math.floor(minx / s), math.floor(miny / s)
        if (cx + 1) * s >= maxx and (cy + 1) * s >= maxy:
            return RootCell(cx, cy, e, False)
        e += 1


def grow_root(rc: RootCell, min_e: int) -> RootCell:
    """Grow the root until its exponent >= min_e (Quadtree.fs:249-255).
    Parent of a centered cell is the centered cell one exponent up."""
    cx, cy, e = rc.cx, rc.cy, rc.e
    if rc.centered:
        return RootCell(0, 0, max(e, min_e), True)
    while e < min_e:
        cx >>= 1
        cy >>= 1
        e += 1
    return RootCell(cx, cy, e, False)


@dataclass
class TreeStats:
    root: RootCell
    leaf_count: int
    inner_count: int

    @property
    def node_count(self) -> int:
        return self.leaf_count + self.inner_count


def tree_stats(samples: DataFrame, split: int = DEFAULT_SPLIT) -> TreeStats:
    """Node/leaf/inner counts of the virtual quadtree over a single-exponent
    samples set — parity with ``Quadtree.CountLeafs/CountInner/CountNodes``
    (Quadtree.fs:108-160). Goldens: Tests/QuadtreeTests.fs:40-82.

    Only aggregates run distributed; per-level distinct-ancestor counts are
    one shuffle each over an exponentially shrinking key set.
    """
    row = samples.agg(
        F.min("cx"), F.min("cy"), F.max("cx"), F.max("cy"), F.min("e"), F.max("e")
    ).collect()[0]
    mncx, mncy, mxcx, mxcy, mne, mxe = row
    if mne != mxe:
        raise ValueError("tree_stats expects a single-exponent samples set")
    e = int(mne)
    side = 2.0 ** e
    rc = root_cell_of_bbox(mncx * side, mncy * side, (mxcx + 1) * side, (mxcy + 1) * side)
    rc = grow_root(rc, e + split)

    if rc.e - e <= split:
        # whole raster fits in one (possibly centered) leaf — Quadtree.fs:194-206
        return TreeStats(rc, 1, 0)

    tiles = samples.select(
        F.shiftright("cx", split).alias("tcx"), F.shiftright("cy", split).alias("tcy")
    ).distinct()
    leaf_count = tiles.count()
    inner = 0
    top_e = rc.e - 1 if rc.centered else rc.e
    lvl = tiles
    for _k in range(e + split + 1, top_e + 1):
        lvl = lvl.select(
            F.shiftright("tcx", 1).alias("tcx"), F.shiftright("tcy", 1).alias("tcy")
        ).distinct()
        inner += lvl.count()
    if rc.centered:
        inner += 1
    return TreeStats(rc, leaf_count, inner)
