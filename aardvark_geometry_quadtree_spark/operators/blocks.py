"""Block-raster engine: fixed-size aligned blocks for exchange-free merges
and shuffle-free pyramids — the crawl-over-crawl merge path at 100 TB.

Why this exists (round-2 scaling finding, BENCH/scaling_results.json): the
same-exponent dominance merge expressed as a winner-per-cell hash
aggregation over 8-16M individual cell keys inflates measured CPU-time
1.45-1.8x when thread count quadruples — the per-cell hash table thrashes
DRAM/LLC, and that contention is what broke the N->4N scaling target. The
reference never aggregates per cell: it merges layer BUFFERS per node
(Layer.fs:360-446), i.e. dense aligned arrays. This module is that design
re-expressed in Spark:

- cells pack into aligned ``2^bits x 2^bits`` blocks — ONE row per block
  with row-major array payloads (:func:`pack_blocks`), the coarse-grained
  sibling of :func:`..build.pack_tiles` (which keeps tight per-tile windows
  for storage; blocks are full-size and aligned so two crawls' arrays line
  up element-for-element);
- the same-exponent dominance merge becomes a co-partitioned join plus
  JVM-side ``zip_with`` over aligned arrays (:func:`merge_blocks`) — no
  hash aggregation, sequential memory access, zero Exchange when both
  sides are bucketed on the block key (:func:`save_blocks_bucketed`);
- LoD pyramids up to ``log2(block width)`` levels are BLOCK-LOCAL — every
  parent cell's children live in the same block row — so the whole pyramid
  is one shuffle-free ``mapInPandas`` pass (:func:`pyramid_blocks`);
- window queries prune whole blocks with the sample-path query's
  ``node_outside`` on the block extent (a Catalyst filter, pushed to the
  parquet scan), then run the sample-path query on the unpacked cells; the
  polygon queries instead test the cells of each surviving block in one
  Arrow-batched numpy pass over its ``occ`` array (:func:`_select_cells`)
  before the unpack (:func:`inside_polygon_blocks`) or in place of it
  (:func:`polygon_count_blocks`).

Semantics parity: ``merge_blocks`` == the sample-level winner rule of
``merge._merge_same_exponent`` (Query.fs:79-196 per-sample dominance at one
exponent: the present side's row wins wholesale, a layer hole in the winner
stays a hole); ``pyramid_blocks`` == ``pyramid.downsample_once`` per-type
means (Sampling.fs:18-74). Both are asserted by differential tests
(tests/test_blocks.py) and oracle-checked driver queries.

Undefined encoding inside buffers: float-family layers use NaN (or a null
element — both are read as holes, because the Arrow boundary may map NaN to
null); integer-family layers carry a ``{name}_mask`` boolean array, exactly
like the packed-tile format. ``occ`` marks cell PRESENCE (a present cell
can still hold a layer hole — Mask1b, Layer.fs:120-146).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells_np as CN
from . import query as Q
from .build import _INT_BUFFER_TYPES, packable_layer_types

_META_COLS = ("bx", "by", "e", "w", "n_samples", "occ")

# integer-family block payload types (they carry a {name}_mask): wide
# (array<bigint>) and narrow (array<int>) block schemas both count
_INT_ARRAY_TYPES = {"array<bigint>", "array<int>", "array<smallint>", "array<tinyint>"}
_FLOAT_ARRAY_TYPES = {"array<double>", "array<float>"}

# numpy dtype of each block payload array type — kernels derive their
# buffer dtypes from the INPUT schema, so wide (float64/int64) and narrow
# (float32/int32) block tables flow through every operator unchanged
_NP_OF = {
    "array<double>": np.float64, "array<float>": np.float32,
    "array<bigint>": np.int64, "array<int>": np.int32,
    "array<smallint>": np.int16, "array<tinyint>": np.int8,
}


def _layer_sql_types(blocks: DataFrame, layers: list[str]) -> dict[str, str]:
    """Per-layer Spark array type of a block frame (schema-derived): the
    single source of truth every kernel's output schema and numpy buffer
    dtypes come from. Byte-diet rationale: the binding scaling phases sit
    at the host's DRAM-bandwidth envelope, so halving payload bytes
    (float32/int32 vs float64/int64) is the remaining lever on both
    absolute wall-time and N->4N efficiency — see pack_blocks(narrow=)."""
    dt = dict(blocks.dtypes)
    out = {}
    for n in layers:
        t = dt[n]
        if t not in _NP_OF:
            raise ValueError(f"_layer_sql_types: unsupported payload type {t!r} for layer '{n}'")
        out[n] = t
    return out


# ---------------------------------------------------------------------------
# vector layers (Normals3f/3d, Colors3b/4b/3f/4f, Bilinear4*): fixed-width
# multi-channel payloads packed as flat w*w*k cell-major buffers
# ---------------------------------------------------------------------------

class VectorSpec:
    """Block-path spec of one fixed-width vector layer.

    ``kind`` selects the downsample rule mirroring the registry semantics
    (registry.py:36-67 / Sampling.fs:26-61):

    - ``"float"``  — per-channel mean of defined children (colors-f,
      bilinear params);
    - ``"normal"`` — per-channel mean then re-normalize (Normals3f/3d);
    - ``"intcolor"`` — per-channel integer mean with TRUNCATING division
      (Colors3b/4b); packed as ``array<long>`` + per-CELL mask.
    """

    __slots__ = ("name", "channels", "kind")

    def __init__(self, name: str, channels: int, kind: str = "float"):
        if kind not in ("float", "normal", "intcolor"):
            raise ValueError(f"VectorSpec: unknown kind '{kind}'")
        self.name, self.channels, self.kind = name, int(channels), kind


def resolve_vector_specs(layers: list[str]) -> dict[str, VectorSpec]:
    """Vector specs for registered semantics whose payload is an array type
    (registry.py SEMANTICS): channel count from the semantic name's digit,
    kind from its family. Layers without an array-typed registry entry are
    left out (treated as scalars)."""
    import re

    from ..registry import SEMANTICS

    out: dict[str, VectorSpec] = {}
    for n in layers:
        sem = SEMANTICS.get(n)
        if sem is None or not sem.spark_type.startswith("array<"):
            continue
        m = re.search(r"(\d)", n)
        if not m:
            raise ValueError(f"resolve_vector_specs: no channel digit in '{n}'")
        k = int(m.group(1))
        if n.startswith("Normals"):
            kind = "normal"
        elif sem.spark_type == "array<int>":
            kind = "intcolor"
        else:
            kind = "float"
        out[n] = VectorSpec(n, k, kind)
    return out


def _block_layers(blocks: DataFrame) -> tuple[list[str], set[str]]:
    """Infer (layer names, integer-family subset) from a block frame's
    schema: integer-array payloads (wide ``array<bigint>`` or narrow
    ``array<int>``) are integer-family (they carry a ``{name}_mask``),
    float arrays (``array<double>`` / ``array<float>``) are float-family."""
    dt = dict(blocks.dtypes)
    layers = [
        c for c in blocks.columns
        if c not in _META_COLS and not c.endswith("_mask")
    ]
    int_layers = {c for c in layers if dt[c] in _INT_ARRAY_TYPES}
    return layers, int_layers


def _check_int_range(vals: "np.ndarray", npi, layer: str) -> None:
    """Narrow (int32/int16/...) buffers must not silently wrap: numpy fancy
    assignment truncates out-of-range int64 values without warning (r5
    ADVICE). Raises a ValueError naming the layer instead."""
    if npi is np.int64 or vals.size == 0:
        return
    info = np.iinfo(npi)
    lo, hi = vals.min(), vals.max()
    if lo < info.min or hi > info.max:
        raise ValueError(
            f"narrow block payload overflow: layer '{layer}' has values in "
            f"[{lo}, {hi}] outside {np.dtype(npi).name} range "
            f"[{info.min}, {info.max}]; use narrow=False for this layer"
        )


def _group_codes(*cols: "np.ndarray") -> tuple["np.ndarray", list["np.ndarray"], int]:
    """Group-id assignment over parallel int64 key columns — the job
    ``np.unique(keys, axis=0, return_inverse=True)`` does, WITHOUT its
    structured-dtype sort (measured 411 ms vs 35 ms at 375k rows x 2 key
    columns: axis-0 unique compares whole rows through a void view; a
    lexsort compares machine ints). Returns ``(codes, [unique values per
    column...], n_groups)``; groups come out in lexicographic key order."""
    n = len(cols[0])
    order = np.lexsort(cols[::-1])
    sorted_cols = [c[order] for c in cols]
    new = np.empty(n, dtype=bool)
    new[0] = True
    m = np.zeros(n - 1, dtype=bool)
    for c in sorted_cols:
        m |= c[1:] != c[:-1]
    new[1:] = m
    gid = np.cumsum(new) - 1
    codes = np.empty(n, dtype=np.int64)
    codes[order] = gid
    return codes, [c[new] for c in sorted_cols], int(new.sum())


def pack_blocks(
    samples: DataFrame,
    bits: int,
    layers: list[str] | None = None,
    vector_specs: dict[str, VectorSpec] | None = None,
    narrow: bool = False,
) -> DataFrame:
    """Samples -> aligned blocks: one row per ``(cx >> bits, cy >> bits, e)``
    with row-major ``2^bits x 2^bits`` array payloads.

    In-block index ``i = (cy - by*w) * w + (cx - bx*w)`` (w = 2^bits), so
    two independently packed crawls produce element-aligned arrays — the
    precondition :func:`merge_blocks` exploits. One shuffle (the groupBy),
    then a vectorized numpy scatter per block; no per-row Python.

    Vector layers (``vector_specs``; defaults to
    :func:`resolve_vector_specs` over registered semantics) pack as flat
    ``w*w*channels`` CELL-MAJOR buffers (``i*k + ch``): float kinds as
    ``array<double>`` with all-NaN cells for holes, ``intcolor`` as
    ``array<long>`` plus a per-cell ``{name}_mask``.

    Packed-format contract (float vectors): hole-ness is carried by CHANNEL
    0 — a defined cell never has NaN there. Input values violating that
    (NaN channel 0, other channels defined) are normalized to layer holes
    at pack time, so unpack always agrees with pack.

    ``narrow=True`` packs the byte-diet schema — float payloads as
    ``array<float>`` (float32), integer payloads as ``array<int>``
    (int32) — HALVING payload bytes per block. Every downstream block
    operator derives its buffer dtypes from the input schema, so narrow
    tables flow through merge/pyramid/supersample/LoD-cut/probe paths
    unchanged; ``unpack_blocks(layer_types=...)`` casts back to exact
    source types. Use it for the crawl-scale staging path: the binding
    phases there are DRAM-bandwidth-bound, so bytes are wall-time.
    """
    layers = layers or [
        c for c in samples.columns if c not in ("cx", "cy", "e", "patch_id")
    ]
    if vector_specs is None:
        vector_specs = resolve_vector_specs(layers)
    scalar_layers = [n for n in layers if n not in vector_specs]
    types = packable_layer_types(samples, scalar_layers)
    int_layers = {n for n in scalar_layers if types[n] in _INT_BUFFER_TYPES}
    w = 1 << bits
    f_sql, i_sql = ("float", "int") if narrow else ("double", "long")
    npf, npi = (np.float32, np.int32) if narrow else (np.float64, np.int64)

    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for name in layers:
        spec = vector_specs.get(name)
        if spec is not None:
            if spec.kind == "intcolor":
                fields.append(f"{name} array<{i_sql}>")
                fields.append(f"{name}_mask array<boolean>")
            else:
                fields.append(f"{name} array<{f_sql}>")
        elif name in int_layers:
            fields.append(f"{name} array<{i_sql}>")
            fields.append(f"{name}_mask array<boolean>")
        else:
            fields.append(f"{name} array<{f_sql}>")
    out_schema = ", ".join(fields)

    keyed = samples.select(
        F.shiftright(F.col("cx"), bits).alias("bx"),
        F.shiftright(F.col("cy"), bits).alias("by"),
        F.col("e").cast("int").alias("e"),
        "cx", "cy", *layers,
    )

    # repartition + whole-partition mapInArrow, NOT groupBy.applyInPandas:
    # applyInPandas invokes the kernel (and builds a pandas frame) once per
    # GROUP — ~5 ms of fixed cost each, which dominated on sparse rasters
    # with thousands of near-empty blocks (measured 17.7 s for 3.6k tiny
    # blocks). Here a partition's groups are sliced inside ONE kernel call.
    # Output list columns are emitted as ``pa.ListArray.from_arrays(offsets,
    # flat_buffer)`` straight over the scatter buffers (guide §4.2): the
    # former mapInPandas emission built object columns of numpy arrays whose
    # pandas->Arrow conversion iterated per row.
    def _pack_partition(iterator):
        # a partition can arrive as multiple Arrow batches; the kernel needs
        # whole groups, so concatenate first (groups are co-located by the
        # repartition, never split across partitions).
        # FULLY VECTORIZED: no per-group loop — sparse rasters produce
        # thousands of near-empty blocks, and per-group pandas slicing cost
        # ~0.5 ms each (the applyInPandas disease re-entering through our
        # own groupby). One np.unique assigns every row a block code; every
        # buffer is built by 2-D scatter across ALL blocks at once.
        chunks = list(iterator)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if tbl.num_rows == 0:
            return
        pdf = tbl.to_pandas()
        bx = pdf["bx"].to_numpy(np.int64)
        by = pdf["by"].to_numpy(np.int64)
        ee = pdf["e"].to_numpy(np.int64)
        cx = pdf["cx"].to_numpy(np.int64)
        cy = pdf["cy"].to_numpy(np.int64)
        codes, (ubx, uby, ue), nb = _group_codes(bx, by, ee)
        idx = (cy - by * w) * w + (cx - bx * w)
        occ2 = np.zeros((nb, w * w), dtype=bool)
        occ2[codes, idx] = True
        # flat (per-block) columns keep exact Arrow dtypes; list columns
        # stay 2-D buffers and become ListArrays over their flat view
        flat: dict[str, np.ndarray] = {
            "bx": ubx, "by": uby,
            "e": ue.astype(np.int32),
            "w": np.full(nb, w, dtype=np.int32),
            # occupied-cell count, NOT input row count: n_samples means
            # occupied cells everywhere on the block path, and duplicate
            # (cx, cy) input rows must not inflate it past the occupancy
            "n_samples": occ2.sum(axis=1).astype(np.int64),
        }
        out: dict[str, np.ndarray] = {"occ": occ2}
        for name in layers:
            defined = pdf[name].notna().to_numpy()
            dcodes, didx = codes[defined], idx[defined]
            spec = vector_specs.get(name)
            if spec is not None:
                k = spec.channels
                if defined.any():
                    vv = np.stack(pdf[name][defined].to_list()).astype(
                        np.int64 if spec.kind == "intcolor" else np.float64
                    )
                    if spec.kind != "intcolor":
                        # packed-format contract: a defined float-vector
                        # cell never carries NaN in channel 0 (unpack and
                        # every kernel test channel 0 for hole-ness). A
                        # value arriving with NaN channel 0 is normalized
                        # to a LAYER HOLE here — pack/unpack round-trips
                        # instead of silently resurfacing as a mis-read.
                        ch0_ok = ~np.isnan(vv[:, 0])
                        if not ch0_ok.all():
                            vv = vv[ch0_ok]
                            keep = np.flatnonzero(defined)[ch0_ok]
                            defined = np.zeros_like(defined)
                            defined[keep] = True
                            dcodes, didx = codes[defined], idx[defined]
                else:
                    vv = np.empty((0, k))
                if spec.kind == "intcolor":
                    _check_int_range(vv, npi, name)
                    buf = np.zeros((nb, w * w * k), dtype=npi)
                else:
                    buf = np.full((nb, w * w * k), np.nan, dtype=npf)
                for ch in range(k):
                    buf[dcodes, didx * k + ch] = vv[:, ch]
                out[name] = buf
                if spec.kind == "intcolor":
                    dm = np.zeros((nb, w * w), dtype=bool)
                    dm[dcodes, didx] = True
                    out[f"{name}_mask"] = dm
            elif name in int_layers:
                buf = np.zeros((nb, w * w), dtype=npi)
                vals = pd.to_numeric(pdf[name][defined]).to_numpy(np.int64)
                _check_int_range(vals, npi, name)
                buf[dcodes, didx] = vals
                dm = np.zeros((nb, w * w), dtype=bool)
                dm[dcodes, didx] = True
                out[name] = buf
                out[f"{name}_mask"] = dm
            else:
                buf = np.full((nb, w * w), np.nan, dtype=npf)
                buf[dcodes, didx] = pdf[name][defined].to_numpy(np.float64)
                out[name] = buf
        names_out = [f.split(" ")[0] for f in fields]
        # bounded slices: one giant partition must not become one giant
        # Arrow batch (~4M payload cells per slice)
        step = max(1, (1 << 22) // (w * w))
        for s in range(0, nb, step):
            t = min(s + step, nb)
            m = t - s
            arrs = []
            for cname in names_out:
                if cname in flat:
                    arrs.append(pa.array(flat[cname][s:t]))
                else:
                    buf = out[cname]
                    row_len = buf.shape[1]
                    offs = pa.array(np.arange(m + 1, dtype=np.int32) * row_len)
                    arrs.append(
                        pa.ListArray.from_arrays(offs, pa.array(buf[s:t].reshape(-1)))
                    )
            yield pa.RecordBatch.from_arrays(arrs, names=names_out)

    return keyed.repartition("bx", "by", "e").mapInArrow(_pack_partition, out_schema)


def _registry_type(n: str) -> str | None:
    from ..registry import SEMANTICS

    sem = SEMANTICS.get(n)
    return sem.spark_type if sem is not None else None


def _explode_cells(
    blocks: DataFrame,
    layers: list[str],
    int_layers: set[str],
    vector_specs: dict[str, VectorSpec],
    layer_types: dict[str, str] | None,
    carry: list[str],
    outer: bool = False,
) -> DataFrame:
    """Shared cell-unpack plan: JVM ``posexplode`` over zipped scalar
    arrays, vector layers re-cut from their flat cell-major buffers with
    ``slice`` at the exploded position (per-cell hole test: the intcolor
    mask element, or channel 0's NaN for float kinds — the pack-format
    contract). ``carry`` columns (e.g. probe context) ride through.
    ``outer=True`` keeps a row whose block columns are null (an unmatched
    side of an outer join) as one row of null cell columns.
    Used by :func:`unpack_blocks` and the kNN round unpack — one
    implementation, so vector layers read correctly on BOTH paths."""
    zipped = [F.col("occ")]
    for n in layers:
        if n in vector_specs:
            continue
        zipped.append(F.col(n))
        if n in int_layers:
            zipped.append(F.col(f"{n}_mask"))
    vcarry = []
    for n, spec in vector_specs.items():
        if n in layers:
            vcarry.append(n)
            if spec.kind == "intcolor":
                vcarry.append(f"{n}_mask")
    explode = F.posexplode_outer if outer else F.posexplode
    df = blocks.select(
        *carry, "bx", "by", "e", "w", *vcarry,
        explode(F.arrays_zip(*zipped)).alias("pos", "z"),
    )
    df = df.filter(F.col("z.occ") | F.col("pos").isNull() if outer else F.col("z.occ"))
    cols = [
        *(F.col(c) for c in carry),
        (F.col("bx") * F.col("w") + F.pmod(F.col("pos"), F.col("w"))).cast("long").alias("cx"),
        (F.col("by") * F.col("w") + (F.col("pos") / F.col("w")).cast("int")).cast("long").alias("cy"),
        F.col("e"),
    ]
    for n in layers:
        spec = vector_specs.get(n)
        if spec is not None:
            k = spec.channels
            arr = F.slice(F.col(n), F.col("pos") * k + 1, k)
            if spec.kind == "intcolor":
                col = F.when(F.element_at(F.col(f"{n}_mask"), F.col("pos") + 1), arr)
            else:
                first = F.element_at(F.col(n), F.col("pos") * k + 1)
                col = F.when(first.isNull() | F.isnan(first), F.lit(None)).otherwise(arr)
            t = (layer_types or {}).get(n) or _registry_type(n)
            if t:
                col = col.cast(t)
        else:
            if n in int_layers:
                col = F.when(F.col(f"z.{n}_mask"), F.col(f"z.{n}")).otherwise(F.lit(None))
            else:
                v = F.col(f"z.{n}")
                col = F.when(v.isNull() | F.isnan(v), F.lit(None)).otherwise(v)
            if layer_types and n in layer_types:
                col = col.cast(layer_types[n])
        cols.append(col.alias(n))
    return df.select(*cols)


def unpack_blocks(
    blocks: DataFrame,
    layers: list[str] | None = None,
    layer_types: dict[str, str] | None = None,
    vector_specs: dict[str, VectorSpec] | None = None,
) -> DataFrame:
    """Blocks -> samples rows. JVM-side ``posexplode`` over zipped arrays —
    no Python; holes come back as canonical NULL; ``layer_types`` casts
    layers back to their exact source types (store-manifest contract).
    Vector layers are re-cut from their flat cell-major buffers with
    ``slice`` at the exploded position (registered semantics default to
    their registry Spark type)."""
    if layers is None:
        layers, _ = _block_layers(blocks)
    if vector_specs is None:
        vector_specs = resolve_vector_specs(layers)
    scalar = [n for n in layers if n not in vector_specs]
    int_layers = {n for n, t in blocks.dtypes if t in _INT_ARRAY_TYPES and n in scalar}
    return _explode_cells(blocks, layers, int_layers, vector_specs, layer_types, [])


def merge_blocks(
    first: DataFrame,
    second: DataFrame,
    dominance: "Dominance | str" = "first",
    layers: list[str] | None = None,
    engine: str = "kernel",
) -> DataFrame:
    """SAME-EXPONENT dominance merge over aligned blocks — zero hash
    aggregation.

    Plan: FULL OUTER equi-join on the block key (Exchange-free on bucketed
    inputs, :func:`save_blocks_bucketed`), then per-cell winner selection
    over the aligned arrays. Two interchangeable winner engines, identical
    semantics (differential-tested):

    - ``engine='kernel'`` (default): vectorized numpy ``np.where`` over the
      joined arrays in an Arrow-batched ``mapInPandas`` — measured the
      scale winner: Spark evaluates SQL higher-order-function lambdas
      interpreted per ELEMENT, whose boxed-object churn on the shared JVM
      heap anti-scaled at 16 threads (7.3s -> 9.6s going 4 -> 16 cores,
      cpu-ratio 2.1x) exactly like the hash aggregation it replaced; the
      kernel does the same arithmetic in C over Arrow batches and keeps the
      heap quiet. Emits ``n_samples`` (occupied-cell count) for free.
    - ``engine='sql'``: pure-JVM ``zip_with`` formulation — no Python
      workers at all; right for small merges inside larger SQL-only plans.
      CONTRACT: scalar layers only (loud ValueError on vector layers) —
      a channel-aware ``zip_with`` would interpret its lambda per element
      over ``w*w*k`` buffers, exactly the anti-scaling path the kernel
      engine exists to avoid, so vector-layer merges are kernel-only.

    Semantics == ``merge._merge_same_exponent`` (winner-per-cell at one
    shared exponent, Query.fs:79-196): where both sides have the cell, the
    dominance-named side's value wins WHOLESALE (its layer hole stays a
    hole); one-sided cells pass through. MoreDetailed* ties on exponent and
    reduces to the named side (Node.fs:12-23). Cross-exponent inputs are
    out of scope here by contract (the join key includes ``e``, so rows at
    different exponents pass through unresolved): mixed-resolution merges
    go through ``merge.merge_samples``.
    """
    from .merge import Dominance

    dominance = Dominance(dominance)
    win_first = dominance in (Dominance.FirstDominates, Dominance.MoreDetailedOrFirst)
    key = ["bx", "by", "e"]
    if layers is None:
        layers, _ = _block_layers(first)
    vector_specs = {n: s for n, s in resolve_vector_specs(layers).items()}
    int_layers = {
        n for n, t in first.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }

    def side_cols(df: DataFrame, tag: str) -> DataFrame:
        cols = [F.col(k) for k in key]
        cols.append(F.col("w").alias(f"_w_{tag}"))
        cols.append(F.col("occ").alias(f"_occ_{tag}"))
        for n in layers:
            cols.append(F.col(n).alias(f"_{tag}_{n}"))
            if n in masked:
                cols.append(F.col(f"{n}_mask").alias(f"_{tag}_{n}_mask"))
        return df.select(*cols)

    # r5 ADVICE: output payload dtypes derive from FIRST's schema; merging a
    # narrow first with a wide second would silently downcast — refuse loudly
    t1, t2 = _layer_sql_types(first, layers), _layer_sql_types(second, layers)
    if t1 != t2:
        bad = {n: (t1[n], t2[n]) for n in layers if t1[n] != t2[n]}
        raise ValueError(
            f"merge_blocks: layer payload types differ between sides: {bad}; "
            "re-pack one side (narrow=) so both schemas match"
        )

    j = side_cols(first, "a").join(side_cols(second, "b"), key, "full_outer")
    if engine == "kernel":
        return _merge_blocks_kernel(
            j, layers, int_layers, win_first, vector_specs, t1,
        )
    if engine != "sql":
        raise ValueError(f"merge_blocks: unknown engine '{engine}'")
    if vector_specs:
        raise ValueError(
            "merge_blocks engine='sql' does not support vector layers "
            f"({sorted(vector_specs)}); use engine='kernel'"
        )

    only_a = F.col("_occ_b").isNull()
    only_b = F.col("_occ_a").isNull()
    wtag = "a" if win_first else "b"  # the side whose presence wins a cell

    def merged_arr(value_col_a: str, value_col_b: str) -> F.Column:
        # winner-side occupancy decides per element; zip the winner's occ
        # with its value array so zip_with's 2-array limit suffices
        win_val, lose_val = (value_col_a, value_col_b) if win_first else (value_col_b, value_col_a)
        z = F.arrays_zip(F.col(f"_occ_{wtag}").alias("o"), F.col(win_val).alias("v"))
        return F.zip_with(
            z, F.col(lose_val),
            lambda x, y: F.when(x.getField("o"), x.getField("v")).otherwise(y),
        )

    out = [F.col(k) for k in key]
    out.append(F.coalesce(F.col("_w_a"), F.col("_w_b")).alias("w"))
    occ = (
        F.when(only_a, F.col("_occ_a"))
        .when(only_b, F.col("_occ_b"))
        .otherwise(F.zip_with(F.col("_occ_a"), F.col("_occ_b"), lambda x, y: x | y))
    )
    # same output schema as engine='kernel' (interchangeability contract):
    # n_samples = occupied-cell count. size(filter(...)) is a HOF — fine at
    # the small-array sizes this engine is documented for.
    out.append(F.size(F.filter(occ, lambda x: x)).cast("long").alias("n_samples"))
    out.append(occ.alias("occ"))
    for n in layers:
        a_n, b_n = f"_a_{n}", f"_b_{n}"
        val = (
            F.when(only_a, F.col(a_n))
            .when(only_b, F.col(b_n))
            .otherwise(merged_arr(a_n, b_n))
        )
        out.append(val.alias(n))
        if n in int_layers:
            am, bm = f"_a_{n}_mask", f"_b_{n}_mask"
            m = (
                F.when(only_a, F.col(am))
                .when(only_b, F.col(bm))
                .otherwise(merged_arr(am, bm))
            )
            out.append(m.alias(f"{n}_mask"))
    return j.select(*out)


def _stack(series: pd.Series, dtype) -> np.ndarray:
    """Column of equal-length array cells -> one (n, w*w) 2-D array.
    One C-level copy; the batched alternative to per-row ``.tolist()``."""
    return np.stack(series.to_list()).astype(dtype, copy=False)


def _merge_blocks_kernel(
    j: DataFrame, layers, int_layers, win_first: bool,
    vector_specs: dict[str, VectorSpec] | None = None,
    sql_types: dict[str, str] | None = None,
) -> DataFrame:
    """Winner selection as a vectorized numpy kernel over the joined rows
    (see :func:`merge_blocks` engine='kernel'). Partition-local — adds no
    Exchange to the join plan.

    Batched: rows of an Arrow batch are split three ways (only-a, only-b,
    both-sided), each group's array cells stacked into ONE (n, w*w) 2-D
    array, and every winner decision is a single ``np.where`` per layer per
    batch — no per-row Python loop. (The loop variant paid ~per-row fixed
    cost that dominated at small block widths: bits=4 -> 256-cell arrays.)
    """
    vector_specs = vector_specs or {}
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }
    # output payload types follow the INPUT schema (wide or narrow)
    sql_types = sql_types or {n: ("array<bigint>" if n in masked else "array<double>")
                              for n in layers}
    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for n in layers:
        fields.append(f"{n} {sql_types[n]}")
        if n in masked:
            fields.append(f"{n}_mask array<boolean>")
    out_schema = ", ".join(fields)
    names = [f.split(" ")[0] for f in fields]

    def _one_sided(g: pd.DataFrame, tag: str) -> pd.DataFrame:
        occ = _stack(g[f"_occ_{tag}"], bool)
        out = {
            "bx": g["bx"].to_numpy(np.int64), "by": g["by"].to_numpy(np.int64),
            "e": g["e"].to_numpy(np.int64), "w": g[f"_w_{tag}"].to_numpy(np.int64),
            "n_samples": occ.sum(axis=1), "occ": list(occ),
        }
        for n in layers:
            out[n] = g[f"_{tag}_{n}"].to_list()
            if n in masked:
                out[f"{n}_mask"] = g[f"_{tag}_{n}_mask"].to_list()
        return pd.DataFrame(out)

    def _two_sided(g: pd.DataFrame) -> pd.DataFrame:
        a = _stack(g["_occ_a"], bool)
        b = _stack(g["_occ_b"], bool)
        # win marks cells where the DOMINANT side is present: its value wins
        # there, the other side fills the rest
        win = a if win_first else b
        occ = a | b
        out = {
            "bx": g["bx"].to_numpy(np.int64), "by": g["by"].to_numpy(np.int64),
            "e": g["e"].to_numpy(np.int64), "w": g["_w_a"].to_numpy(np.int64),
            "n_samples": occ.sum(axis=1), "occ": list(occ),
        }
        for n in layers:
            spec = vector_specs.get(n)
            dt = _NP_OF[sql_types[n]]
            va, vb = _stack(g[f"_a_{n}"], dt), _stack(g[f"_b_{n}"], dt)
            wv, lv = (va, vb) if win_first else (vb, va)
            # vector buffers are w*w*k: expand the per-cell win mask by k
            wmask = np.repeat(win, spec.channels, axis=1) if spec is not None else win
            out[n] = list(np.where(wmask, wv, lv))
            if n in masked:
                ma = _stack(g[f"_a_{n}_mask"], bool)
                mb = _stack(g[f"_b_{n}_mask"], bool)
                wm, lm = (ma, mb) if win_first else (mb, ma)
                out[f"{n}_mask"] = list(np.where(win, wm, lm))
        return pd.DataFrame(out)

    def _merge(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            a_null = pdf["_occ_a"].isna()
            b_null = pdf["_occ_b"].isna()
            parts: list[pd.DataFrame] = []
            # stacking needs equal array lengths -> sub-group by block width
            # (uniform in practice; mixed widths only on heterogeneous input)
            oa = pdf[b_null]
            if len(oa):
                parts += [_one_sided(g, "a") for _, g in oa.groupby("_w_a", sort=False)]
            ob = pdf[a_null]
            if len(ob):
                parts += [_one_sided(g, "b") for _, g in ob.groupby("_w_b", sort=False)]
            ts = pdf[~a_null & ~b_null]
            if len(ts):
                parts += [_two_sided(g) for _, g in ts.groupby("_w_a", sort=False)]
            if parts:
                yield pd.concat(parts, ignore_index=True)[names]

    return j.mapInPandas(_merge, out_schema)


def merge_blocks_mixed(
    first: DataFrame,
    second: DataFrame,
    dominance: "Dominance | str" = "first",
    layers: list[str] | None = None,
    first_exponents: list[int] | None = None,
    second_exponents: list[int] | None = None,
    max_span_bits: int = 12,
) -> DataFrame:
    """CROSS-EXPONENT dominance merge on the block path — closes the last
    fallback from the scale engine to the per-cell hash-agg merge.

    Semantics == ``merge.merge_samples`` (Query.fs:79-338 fragment
    machinery) row-for-row: winner samples pass through WHOLE at their
    original exponents; dominated samples fully covered by a beater drop;
    partially covered ones fragment into the maximal quadtree decomposition
    of their uncovered region, valued from the coarse parent
    (Query.fs:134-168 SubCellsSelected + the parent-fallback read,
    Query.fs:64-73). ``unpack_blocks`` of the result therefore equals the
    ``merge_samples`` row set exactly (differential-tested for all four
    dominances at multiple exponent deltas).

    Distributed shape: every cross-side interaction is confined to one
    shared ancestor block on the coarsest grid (cells nest, so two
    overlapping cells share their e_max-level block), so ONE repartition on
    the anchor key ``(bx >> (e_max - e), by >> (e_max - e))`` co-locates
    everything a kernel call needs — no join, no per-cell keys. In-kernel,
    each anchor group resolves at its LOCAL exponent span: the coarse
    side's cells supersample onto the fine grid via ``np.repeat`` (exactly
    Layer.fs:210-241 supersampling), per-cell winners come from one
    vectorized dominance comparison, and the minimal output rows are
    reconstructed bottom-up (a cell coarsens iff all four children survive
    from the SAME source sample — guaranteed by aligned-extent nesting —
    so a per-level ``reshape(...).all`` + min-source-exponent gate emits
    exactly the reference's fragment set). Anchors touched by only one
    side pass their blocks through untouched.

    Memory: a kernel sub-problem allocates ``O(4^(bits + span))`` cells
    per layer per side, span = local max - min exponent; guarded by
    ``max_span_bits`` (default 12 -> 4096^2 fine cells). Wider spans
    should merge in exponent-band stages or fall back to
    ``merge_samples``.

    ``first_exponents``/``second_exponents`` hints skip the two
    block-key discovery scans (trusted, like ``merge_samples`` hints).
    Same-exponent inputs degenerate to :func:`merge_blocks` (which keeps
    the Exchange-free bucketed-join plan).
    """
    from .merge import Dominance

    dominance = Dominance(dominance)
    if layers is None:
        layers, _ = _block_layers(first)
    vector_specs = resolve_vector_specs(layers)
    int_layers = {
        n for n, t in first.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }
    chans = {n: (vector_specs[n].channels if n in vector_specs else 1) for n in layers}

    if first_exponents is not None and second_exponents is not None:
        e1 = {int(x) for x in first_exponents}
        e2 = {int(x) for x in second_exponents}
    else:
        e1 = {r[0] for r in first.select("e").distinct().collect()}
        e2 = {r[0] for r in second.select("e").distinct().collect()}
    all_e = e1 | e2
    if len(all_e) <= 1:
        return merge_blocks(first, second, dominance, layers)
    e_max = max(all_e)

    data_cols = ["occ", *[
        c for n in layers for c in ((n, f"{n}_mask") if n in masked else (n,))
    ]]

    def _tag(df: DataFrame, src: int) -> DataFrame:
        # n_samples rides along so the passthrough path (anchors touched by
        # one side only — the DOMINANT case when two crawls barely overlap)
        # emits rows without touching a single payload array
        return df.select(
            F.expr(f"shiftright(bx, {e_max} - e)").alias("abx"),
            F.expr(f"shiftright(`by`, {e_max} - e)").alias("aby"),
            "bx", "by", F.col("e").cast("int").alias("e"),
            F.col("w").cast("int").alias("w"),
            F.col("n_samples").cast("long").alias("n_samples"),
            F.lit(src).alias("src"), *data_cols,
        )

    u = _tag(first, 1).unionByName(_tag(second, 2))

    sql_types = _layer_sql_types(first, layers)
    # same dtype-mismatch refusal as merge_blocks (r5 ADVICE): mixed
    # narrow/wide sides would silently downcast through the union
    t2 = _layer_sql_types(second, layers)
    if sql_types != t2:
        bad = {n: (sql_types[n], t2[n]) for n in layers if sql_types[n] != t2[n]}
        raise ValueError(
            f"merge_blocks_mixed: layer payload types differ between sides: {bad}; "
            "re-pack one side (narrow=) so both schemas match"
        )
    np_dt = {n: _NP_OF[sql_types[n]] for n in layers}
    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for n in layers:
        fields.append(f"{n} {sql_types[n]}")
        if n in masked:
            fields.append(f"{n}_mask array<boolean>")
    out_schema = ", ".join(fields)
    names = [f.split(" ")[0] for f in fields]
    dom_val = dominance.value

    def _passthrough(g: pd.DataFrame) -> pd.DataFrame:
        # untouched blocks pass through COLUMN-wise: no per-row loop, no
        # array materialization (n_samples was carried through the tag)
        d = {
            "bx": g["bx"].to_numpy(np.int64),
            "by": g["by"].to_numpy(np.int64),
            "e": g["e"].to_numpy(np.int64),
            "w": g["w"].to_numpy(np.int64),
            "n_samples": g["n_samples"].to_numpy(np.int64),
        }
        for c in data_cols:
            d[c] = g[c].to_numpy(object)
        return pd.DataFrame(d)[names]

    def _expand(a: np.ndarray, s: int) -> np.ndarray:
        return np.repeat(np.repeat(a, s, axis=0), s, axis=1) if s > 1 else a

    def _resolve(g: pd.DataFrame, sbx: int, sby: int, e_top: int, out: dict) -> None:
        w = int(g["w"].iloc[0])
        if (g["w"] != w).any():
            raise ValueError("merge_blocks_mixed: mixed block widths in one anchor")
        bits = w.bit_length() - 1
        e_lo = int(g["e"].min())
        span = e_top - e_lo
        if bits + span > max_span_bits:
            raise ValueError(
                f"merge_blocks_mixed: local span {span} at block bits {bits} "
                f"exceeds max_span_bits={max_span_bits}; merge in exponent "
                "bands or use merge_samples"
            )
        W = w << span
        X0, Y0 = sbx * W, sby * W

        pres = {s: np.zeros((W, W), dtype=bool) for s in (1, 2)}
        srce = {s: np.full((W, W), -127, dtype=np.int16) for s in (1, 2)}
        vals = {
            s: {n: np.zeros((W, W, chans[n]), dtype=np_dt[n]) for n in layers}
            for s in (1, 2)
        }
        defs = {s: {n: np.zeros((W, W), dtype=bool) for n in layers} for s in (1, 2)}

        # plain numpy column iteration (not iterrows: building a pandas
        # Series per row costs more than the painting below at small w)
        g_src = g["src"].to_numpy(np.int64)
        g_e = g["e"].to_numpy(np.int64)
        g_bx = g["bx"].to_numpy(np.int64)
        g_by = g["by"].to_numpy(np.int64)
        g_occ = g["occ"].to_list()
        g_lay = {c: g[c].to_list() for c in data_cols[1:]}
        for i in range(len(g)):
            sd, e = int(g_src[i]), int(g_e[i])
            sc = 1 << (e - e_lo)
            ox = (int(g_bx[i]) * w << (e - e_lo)) - X0
            oy = (int(g_by[i]) * w << (e - e_lo)) - Y0
            sl = (slice(oy, oy + w * sc), slice(ox, ox + w * sc))
            occ = _expand(np.asarray(g_occ[i], dtype=bool).reshape(w, w), sc)
            pres[sd][sl] |= occ
            srce[sd][sl][occ] = e
            for n in layers:
                k = chans[n]
                if n in masked:
                    v = np.asarray(g_lay[n][i], dtype=np_dt[n]).reshape(w, w, k)
                    m = np.asarray(g_lay[f"{n}_mask"][i], dtype=bool).reshape(w, w)
                else:
                    v = np.asarray(g_lay[n][i], dtype=np_dt[n]).reshape(w, w, k)
                    m = ~np.isnan(v[:, :, 0])
                # supersample: repeat rows/cols of the cell grid (channel
                # axis untouched — Layer.fs:210-241 duplicates whole values)
                vf = _expand(v, sc)
                mf = _expand(m, sc) & occ
                vals[sd][n][sl][mf] = vf[mf]
                defs[sd][n][sl] |= mf

        both = pres[1] & pres[2]
        if dom_val == "first":
            a_wins = np.ones((W, W), dtype=bool)
        elif dom_val == "second":
            a_wins = np.zeros((W, W), dtype=bool)
        elif dom_val == "more_detailed_or_first":
            a_wins = srce[1] <= srce[2]
        else:  # more_detailed_or_second
            a_wins = srce[1] < srce[2]
        keep = {
            1: pres[1] & (~pres[2] | a_wins),
            2: pres[2] & (~pres[1] | ~a_wins),
        }

        # bottom-up: full[j] marks level-(e_lo+j) cells whose whole subtree
        # survives AND originates from one source sample (min src_e gate —
        # aligned extents make "min src_e >= level" equivalent to "single
        # sample", so passthrough cells re-emerge at their original
        # exponent, never coarser)
        emit: dict[int, dict[int, np.ndarray]] = {1: {}, 2: {}}
        for sd in (1, 2):
            full_lv = [keep[sd]]
            minsrc = srce[sd]
            for j in range(1, span + 1):
                G = W >> j
                f = full_lv[j - 1].reshape(G, 2, G, 2).all(axis=(1, 3))
                minsrc = minsrc.reshape(G, 2, G, 2).min(axis=(1, 3))
                full_lv.append(f & (minsrc >= e_lo + j))
            for j in range(span + 1):
                e_mask = full_lv[j]
                if j < span:
                    e_mask = e_mask & ~_expand(full_lv[j + 1], 2)
                emit[sd][j] = e_mask

        for j in range(span + 1):
            ea, eb = emit[1][j], emit[2][j]
            E = ea | eb
            if not E.any():
                continue
            sc = 1 << j
            nb = 1 << (span - j)
            # corner-sample views: values are uniform under an emitted cell
            # (single source sample), so the fine-grid corner is the value
            va = {n: vals[1][n][::sc, ::sc] for n in layers}
            vb = {n: vals[2][n][::sc, ::sc] for n in layers}
            da = {n: defs[1][n][::sc, ::sc] for n in layers}
            db = {n: defs[2][n][::sc, ::sc] for n in layers}
            tiles = E.reshape(nb, w, nb, w).any(axis=(1, 3))
            for yi, xi in np.argwhere(tiles):
                sl = (slice(yi * w, (yi + 1) * w), slice(xi * w, (xi + 1) * w))
                ta, tb = ea[sl], eb[sl]
                occ = ta | tb
                out["bx"].append(sbx * nb + int(xi))
                out["by"].append(sby * nb + int(yi))
                out["e"].append(e_lo + j)
                out["w"].append(w)
                out["n_samples"].append(int(occ.sum()))
                out["occ"].append(occ.ravel())
                for n in layers:
                    k = chans[n]
                    if k > 1:
                        v = np.where(ta[..., None], va[n][sl], vb[n][sl])
                    else:
                        # squeeze the channel axis: (w,w) mask against a
                        # (w,w,1) view would mis-broadcast to (w,w,w)
                        v = np.where(ta, va[n][sl][..., 0], vb[n][sl][..., 0])
                    d = np.where(ta, da[n][sl], db[n][sl]) & occ
                    dm = np.repeat(d, k).reshape(d.shape + (k,)) if k > 1 else d
                    if n in masked:
                        out[n].append(np.where(dm, v, 0).astype(np_dt[n], copy=False).ravel())
                        out[f"{n}_mask"].append(d.ravel())
                    else:
                        out[n].append(np.where(dm, v, np.nan).astype(np_dt[n], copy=False).ravel())

    def _kernel(iterator):
        batches = list(iterator)
        if not batches:
            return
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        if not len(pdf):
            return
        frames: list[pd.DataFrame] = []
        # classify whole-batch: anchors touched by one side pass through in
        # ONE column-wise emit (vectorized nunique transform, no group loop)
        one_sided = (
            pdf.groupby(["abx", "aby"], sort=False)["src"].transform("nunique") == 1
        ).to_numpy()
        if one_sided.any():
            frames.append(_passthrough(pdf[one_sided]))
        mx = pdf[~one_sided]
        if len(mx):
            # confine work to the LOCAL exponent span: interactions stay
            # within shared ancestor blocks at the group's own max exponent
            e_top = mx.groupby(["abx", "aby"], sort=False)["e"].transform("max")
            sh = (e_top.to_numpy(np.int64) - mx["e"].to_numpy(np.int64))
            sub = mx.assign(
                _etop=e_top.to_numpy(np.int64),
                _sbx=np.right_shift(mx["bx"].to_numpy(np.int64), sh),
                _sby=np.right_shift(mx["by"].to_numpy(np.int64), sh),
            )
            sub_keys = ["abx", "aby", "_sbx", "_sby"]
            sub_one = (
                sub.groupby(sub_keys, sort=False)["src"].transform("nunique") == 1
            ).to_numpy()
            if sub_one.any():
                frames.append(_passthrough(sub[sub_one]))
            out: dict[str, list] = {n: [] for n in names}
            for (_, _, sbx, sby), sg in sub[~sub_one].groupby(sub_keys, sort=False):
                _resolve(sg, int(sbx), int(sby), int(sg["_etop"].iloc[0]), out)
            if out["bx"]:
                frames.append(pd.DataFrame(out)[names])
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return u.repartition("abx", "aby").mapInPandas(_kernel, out_schema)


def save_blocks_bucketed(
    blocks: DataFrame, table_name: str, n_buckets: int = 64
) -> None:
    """Persist blocks BUCKETED on the block key: two crawls staged this way
    merge with ZERO Exchange (the per-bucket files line up — the co-location
    contract that amortizes one bucketing shuffle across every later merge,
    exactly the repeated crawl-over-crawl pattern at 100 TB)."""
    # bucket keys must EQUAL the merge join key (bx, by, e) for the planner
    # to keep the bucketed scan (a subset partitioning is rejected here)
    (
        blocks.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "bx", "by", "e")
        .sortBy("bx", "by", "e")
        .saveAsTable(table_name)
    )


def pyramid_blocks(
    blocks: DataFrame,
    levels: int,
    layers: list[str] | None = None,
    include_base: bool = False,
    vector_specs: dict[str, VectorSpec] | None = None,
) -> DataFrame:
    """LoD pyramid computed BLOCK-LOCALLY — zero shuffle.

    Every parent cell's 2x2 children live inside the same block row (width
    halves per level), so up to ``log2(w)`` levels need no data movement at
    all: one ``mapInPandas`` pass emits each block's whole pyramid. Beyond
    ``log2(w)`` levels the (tiny) remainder goes through the per-level
    rollup of ``pyramid.build_pyramid`` — by then the data is 4^levels
    smaller.

    Per-type semantics match ``pyramid.downsample_once`` / Sampling.fs:18-74:
    float layers = mean of DEFINED children; integer layers = truncating
    (toward zero) division, mask = any child defined; occupancy = any child
    present. Vector layers (flat ``w*w*k`` buffers) roll up by kind:
    per-channel mean (``float``), mean + re-normalize (``normal``,
    Sampling.fs:35-39), per-channel truncating integer mean (``intcolor``,
    Sampling.fs:50-61) — golden-matched against the registry resamplers.
    """
    if layers is None:
        layers, _ = _block_layers(blocks)
    if vector_specs is None:
        vector_specs = resolve_vector_specs(layers)
    int_layers = {
        n for n, t in blocks.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }
    in_cols = ["bx", "by", "e", "w", "occ", *[
        c for n in layers for c in ((n, f"{n}_mask") if n in masked else (n,))
    ]]
    sql_types = _layer_sql_types(blocks, layers)
    np_dt = {n: _NP_OF[sql_types[n]] for n in layers}
    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for n in layers:
        fields.append(f"{n} {sql_types[n]}")
        if n in masked:
            fields.append(f"{n}_mask array<boolean>")
    out_schema = ", ".join(fields)
    chans = {n: (vector_specs[n].channels if n in vector_specs else 1) for n in layers}
    kinds = {n: (vector_specs[n].kind if n in vector_specs else None) for n in layers}

    names = [f.split(" ")[0] for f in fields]

    def _emit(out, g, lvl, w_out, occ, vals, defs):
        """Append one pyramid level of a stacked row group to the output
        columns (vectorized across the group's n rows)."""
        out["bx"].append(g["bx"].to_numpy(np.int64))
        out["by"].append(g["by"].to_numpy(np.int64))
        out["e"].append(g["e"].to_numpy(np.int64) + lvl)
        out["w"].append(np.full(len(g), w_out, dtype=np.int64))
        out["n_samples"].append(occ.sum(axis=1))
        out["occ"].append(occ)
        for n in layers:
            k = chans[n]
            dmask = np.repeat(defs[n], k, axis=1) if k > 1 else defs[n]
            # means are computed in float64 for precision; output buffers
            # cast back to the (possibly narrow) input payload type
            if n in masked:
                out[n].append(np.where(dmask, vals[n], 0).astype(np_dt[n]))
                out[f"{n}_mask"].append(defs[n])
            else:
                out[n].append(np.where(dmask, vals[n], np.nan).astype(np_dt[n]))

    def _pyr_group(g: pd.DataFrame, w: int, out) -> None:
        """Whole-group pyramid: every level is one reshape-reduce over the
        stacked (n, w*w[*k]) arrays — no per-row Python loop (the loop
        variant paid per-row fixed cost that dominated at small widths)."""
        if (w >> levels) < 1:
            raise ValueError(
                f"pyramid_blocks: {levels} levels exceeds log2(w={w}); "
                "roll the remainder up with pyramid.build_pyramid"
            )
        n_rows = len(g)
        occ = _stack(g["occ"], bool)
        vals: dict[str, np.ndarray] = {}
        defs: dict[str, np.ndarray] = {}
        for n in layers:
            v = _stack(g[n], np.float64)
            if n in masked:
                d = _stack(g[f"{n}_mask"], bool)
            elif n in vector_specs:
                # float vector: a hole is an all-NaN cell; per-cell defined
                # mask from channel 0
                d = ~np.isnan(v.reshape(n_rows, -1, chans[n])[:, :, 0])
            else:
                d = ~np.isnan(v)
            v = np.where(np.repeat(d, chans[n], axis=1) if chans[n] > 1 else d, v, 0.0)
            vals[n], defs[n] = v, d
        if include_base:
            _emit(out, g, 0, w, occ, vals, defs)
        cw = w
        for lvl in range(1, levels + 1):
            pw = cw // 2
            occ = occ.reshape(n_rows, pw, 2, pw, 2).any(axis=(2, 4))
            for n in layers:
                k = chans[n]
                c = defs[n].reshape(n_rows, pw, 2, pw, 2).sum(axis=(2, 4))
                d = c > 0
                if k == 1:
                    sm = vals[n].reshape(n_rows, pw, 2, pw, 2).sum(axis=(2, 4))
                    with np.errstate(invalid="ignore", divide="ignore"):
                        m = sm / np.where(d, c, 1)
                    if n in int_layers:
                        m = np.fix(m)  # truncating division (F# int '/')
                    vals[n] = np.where(d, m, 0.0).reshape(n_rows, -1)
                else:
                    sm = vals[n].reshape(n_rows, pw, 2, pw, 2, k).sum(axis=(2, 4))
                    with np.errstate(invalid="ignore", divide="ignore"):
                        m = sm / np.where(d, c, 1)[..., None]
                    if kinds[n] == "intcolor":
                        m = np.fix(m)  # per-channel truncating mean
                    elif kinds[n] == "normal":
                        # degenerate case — exactly cancelling children
                        # (zero sum): the reference's `.Normalized`
                        # (Sampling.fs:36) yields a NaN vector, i.e. an
                        # unusable value. Canonical undefined here is a
                        # HOLE: the cell drops out of this and coarser
                        # levels (which then average the remaining defined
                        # children) — matching registry._avg_normal, a
                        # deliberate documented deviation from the
                        # reference's NaN propagation.
                        norm = np.sqrt((m * m).sum(axis=-1, keepdims=True))
                        with np.errstate(invalid="ignore", divide="ignore"):
                            m = m / norm
                        d = d & (norm[..., 0] != 0)
                    vals[n] = np.where(d[..., None], m, 0.0).reshape(n_rows, -1)
                defs[n] = d.reshape(n_rows, -1)
            occ = occ.reshape(n_rows, -1)
            _emit(out, g, lvl, pw, occ, vals, defs)
            cw = pw

    def _pyr(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            out: dict[str, list] = {n: [] for n in names}
            for wv, g in pdf.groupby("w", sort=False):
                _pyr_group(g, int(wv), out)
            cols = {}
            for n in names:
                if n in ("bx", "by", "e", "w", "n_samples"):
                    cols[n] = np.concatenate(out[n])
                else:
                    cols[n] = [row for arr in out[n] for row in arr]
            yield pd.DataFrame(cols)

    return blocks.select(*in_cols).mapInPandas(_pyr, out_schema)


def supersample_blocks(
    blocks: DataFrame,
    levels: int = 1,
    layers: list[str] | None = None,
    vector_specs: dict[str, VectorSpec] | None = None,
) -> DataFrame:
    """A2 on the block path: every block expands into 4^levels child blocks
    one (or more) exponents finer, each cell's value duplicated into its
    children (Layer.fs:210-241 — no interpolation; subsampling is
    unsupported, mirroring Layer.fs:249-250).

    Shuffle-free: one ``mapInPandas`` pass; each input block's arrays are
    ``np.repeat``-expanded batched across the Arrow batch and cut into the
    2x2 child blocks per level. Parity with ``pyramid.supersample_once``
    through ``unpack_blocks`` is differential-tested."""
    if layers is None:
        layers, _ = _block_layers(blocks)
    if vector_specs is None:
        vector_specs = resolve_vector_specs(layers)
    int_layers = {
        n for n, t in blocks.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }
    chans = {n: (vector_specs[n].channels if n in vector_specs else 1) for n in layers}
    in_cols = ["bx", "by", "e", "w", "occ", *[
        c for n in layers for c in ((n, f"{n}_mask") if n in masked else (n,))
    ]]
    sql_types = _layer_sql_types(blocks, layers)
    np_dt = {n: _NP_OF[sql_types[n]] for n in layers}
    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for n in layers:
        fields.append(f"{n} {sql_types[n]}")
        if n in masked:
            fields.append(f"{n}_mask array<boolean>")
    out_schema = ", ".join(fields)
    names = [f.split(" ")[0] for f in fields]

    def _cells2(a2: np.ndarray, w: int, k: int) -> np.ndarray:
        """(n, w*w*k) -> (n, 2w, 2w, k) with each cell duplicated 2x2."""
        n_rows = a2.shape[0]
        g = a2.reshape(n_rows, w, w, k)
        return np.repeat(np.repeat(g, 2, axis=1), 2, axis=2)

    def _ss(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            for wv, grp in pdf.groupby("w", sort=False):
                w = int(wv)
                bx = grp["bx"].to_numpy(np.int64)
                by = grp["by"].to_numpy(np.int64)
                ee = grp["e"].to_numpy(np.int64)
                occ = _stack(grp["occ"], bool)
                data = {}
                for n in layers:
                    data[n] = _stack(grp[n], np_dt[n])
                    if n in masked:
                        data[f"{n}_mask"] = _stack(grp[f"{n}_mask"], bool)
                occ2 = _cells2(occ, w, 1)
                exp = {c: _cells2(data[c], w, 1 if c.endswith("_mask") else chans[c])
                       for c in data}
                out: dict[str, list] = {m: [] for m in names}
                for dy in (0, 1):
                    for dx in (0, 1):
                        sl = (slice(None), slice(dy * w, (dy + 1) * w),
                              slice(dx * w, (dx + 1) * w))
                        o = occ2[sl].reshape(len(grp), -1)
                        out["bx"].append(bx * 2 + dx)
                        out["by"].append(by * 2 + dy)
                        out["e"].append(ee - 1)
                        out["w"].append(np.full(len(grp), w, np.int64))
                        out["n_samples"].append(o.sum(axis=1))
                        out["occ"].append(o)
                        for c in data:
                            out[c].append(exp[c][sl].reshape(len(grp), -1))
                cols = {}
                for m in names:
                    if m in ("bx", "by", "e", "w", "n_samples"):
                        cols[m] = np.concatenate(out[m])
                    else:
                        cols[m] = [row for arr in out[m] for row in arr]
                yield pd.DataFrame(cols)

    if levels != 1:
        # iterate single-level passes: each pass is shuffle-free, and 4^L
        # blow-up makes deep supersampling a deliberate, visible choice
        out = blocks
        for _ in range(levels):
            out = supersample_blocks(out, 1, layers, vector_specs)
        return out
    return blocks.select(*in_cols).mapInPandas(_ss, out_schema)


def lod_cut_blocks(
    blocks: DataFrame,
    min_exponent: int,
    exponents: list[int] | None = None,
    max_span_bits: int = 12,
) -> DataFrame:
    """J3+MinExponent on the block path: per-location finest level with
    ``e >= min_exponent`` — ``query.lod_cut`` semantics (Query.fs:372-380:
    a cell is dropped iff ANY finer sample covers its area; partial
    coverage drops the whole cell, no fragmenting) over a mixed-exponent
    block table.

    Handles BOTH block layouts: constant-width packs (``pack_blocks`` at
    several exponents: w fixed, block coords shift) and pyramid output
    (``pyramid_blocks``: bx/by fixed, w halves per level) — anchoring is
    WORLD-based: every block maps to the grid of the largest block world
    extent present, so one repartition co-locates all shadowing
    interactions. In-kernel, finer levels' occupancy unions onto a fine
    canvas (ascending exponents) and each coarser block tests "any finer
    sample under my cell" with one reshape-any; surviving cells keep their
    values untouched. Single-exponent anchors pass through whole.
    """
    blocks = blocks.filter(F.col("e") >= F.lit(int(min_exponent)))
    if exponents is not None:
        exps = sorted({int(x) for x in exponents if x >= min_exponent})
        if len(exps) <= 1:
            return blocks
    # block world size exponent: log2(w) + e per row; the anchor grid is the
    # coarsest one present (one tiny distinct over block metadata)
    we = blocks.select(F.col("w"), F.col("e")).distinct().collect()
    if not we:
        return blocks
    sl2 = max(int(r["w"]).bit_length() - 1 + int(r["e"]) for r in we)
    if len({int(r["e"]) for r in we}) <= 1:
        return blocks
    layers, _ = _block_layers(blocks)
    vector_specs = resolve_vector_specs(layers)
    int_layers = {
        n for n, t in blocks.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    masked = set(int_layers) | {
        n for n, s in vector_specs.items() if s.kind == "intcolor"
    }
    chans = {n: (vector_specs[n].channels if n in vector_specs else 1) for n in layers}
    data_cols = ["occ", *[
        c for n in layers for c in ((n, f"{n}_mask") if n in masked else (n,))
    ]]
    # anchor = block origin's cell coordinate at the coarsest world grid:
    # (bx * w) is the origin in level-e cells; shift to level-sl2 cells
    u = blocks.select(
        F.expr(f"shiftright(bx * w, {sl2} - e)").alias("abx"),
        F.expr(f"shiftright(`by` * w, {sl2} - e)").alias("aby"),
        "bx", "by", F.col("e").cast("int").alias("e"),
        F.col("w").cast("int").alias("w"),
        F.col("n_samples").cast("long").alias("n_samples"), *data_cols,
    )
    sql_types = _layer_sql_types(blocks, layers)
    np_dt = {n: _NP_OF[sql_types[n]] for n in layers}
    fields = ["bx long", "by long", "e int", "w int", "n_samples long",
              "occ array<boolean>"]
    for n in layers:
        fields.append(f"{n} {sql_types[n]}")
        if n in masked:
            fields.append(f"{n}_mask array<boolean>")
    out_schema = ", ".join(fields)
    names = [f.split(" ")[0] for f in fields]

    def _emit_row(out: dict, bx: int, by: int, e: int, w: int,
                  lay: dict, occ_keep: np.ndarray) -> None:
        if not occ_keep.any():
            return
        flat = occ_keep.ravel()
        out["bx"].append(bx)
        out["by"].append(by)
        out["e"].append(e)
        out["w"].append(w)
        out["n_samples"].append(int(flat.sum()))
        out["occ"].append(flat)
        for n in layers:
            k = chans[n]
            v = np.asarray(lay[n])
            if n in masked:
                m = np.asarray(lay[f"{n}_mask"], dtype=bool) & flat
                mk = np.repeat(m, k) if k > 1 else m
                out[n].append(np.where(mk, v, 0).astype(np_dt[n], copy=False))
                out[f"{n}_mask"].append(m)
            else:
                dk = np.repeat(flat, k) if k > 1 else flat
                out[n].append(np.where(dk, v, np.nan).astype(np_dt[n], copy=False))

    def _cut_group(g: pd.DataFrame, abx: int, aby: int, out: dict) -> None:
        e_lo = int(g["e"].min())
        span = sl2 - e_lo
        if span > max_span_bits:
            raise ValueError(
                f"lod_cut_blocks: anchor span {span} exceeds "
                f"max_span_bits={max_span_bits}"
            )
        W = 1 << span  # anchor extent in fine (e_lo-level) cells
        X0, Y0 = abx * W, aby * W
        occ_union = np.zeros((W, W), dtype=bool)  # finer levels, fine-res
        # numpy column iteration — per-row work here is genuine array
        # painting/testing; iterrows' per-row Series build is pure overhead
        for e in sorted(g["e"].unique()):
            rows = g[g["e"] == e]
            sc = 1 << (int(e) - e_lo)
            r_w = rows["w"].to_numpy(np.int64)
            r_bx = rows["bx"].to_numpy(np.int64)
            r_by = rows["by"].to_numpy(np.int64)
            r_occ = rows["occ"].to_list()
            r_lay = {c: rows[c].to_list() for c in data_cols[1:]}
            occs = []
            for i in range(len(rows)):
                w = int(r_w[i])
                occ = np.asarray(r_occ[i], dtype=bool).reshape(w, w)
                occs.append(occ)
                lay = {c: r_lay[c][i] for c in r_lay}
                if e == e_lo:
                    # finest level: never shadowed
                    _emit_row(out, int(r_bx[i]), int(r_by[i]), int(e), w,
                              lay, occ)
                else:
                    ox = (int(r_bx[i]) * w << (int(e) - e_lo)) - X0
                    oy = (int(r_by[i]) * w << (int(e) - e_lo)) - Y0
                    sub = occ_union[oy:oy + w * sc, ox:ox + w * sc]
                    shadowed = sub.reshape(w, sc, w, sc).any(axis=(1, 3))
                    _emit_row(out, int(r_bx[i]), int(r_by[i]), int(e), w,
                              lay, occ & ~shadowed)
            # this level's ORIGINAL occupancy shadows coarser levels
            for i in range(len(rows)):
                w = int(r_w[i])
                occ = occs[i]
                ox = (int(r_bx[i]) * w << (int(e) - e_lo)) - X0
                oy = (int(r_by[i]) * w << (int(e) - e_lo)) - Y0
                occ_union[oy:oy + w * sc, ox:ox + w * sc] |= (
                    np.repeat(np.repeat(occ, sc, 0), sc, 1) if sc > 1 else occ
                )

    def _passthrough(g: pd.DataFrame) -> pd.DataFrame:
        # single-exponent anchors (the whole table, when only one exponent
        # is present under an anchor): column-wise emit, no per-row work
        d = {
            "bx": g["bx"].to_numpy(np.int64),
            "by": g["by"].to_numpy(np.int64),
            "e": g["e"].to_numpy(np.int64),
            "w": g["w"].to_numpy(np.int64),
            "n_samples": g["n_samples"].to_numpy(np.int64),
        }
        for c in data_cols:
            d[c] = g[c].to_numpy(object)
        return pd.DataFrame(d)[names]

    def _kernel(iterator):
        batches = list(iterator)
        if not batches:
            return
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        if not len(pdf):
            return
        frames: list[pd.DataFrame] = []
        ge = pdf.groupby(["abx", "aby"], sort=False)["e"]
        single = (ge.transform("min") == ge.transform("max")).to_numpy()
        if single.any():
            frames.append(_passthrough(pdf[single]))
        mx = pdf[~single]
        if len(mx):
            out: dict[str, list] = {n: [] for n in names}
            for (abx, aby), g in mx.groupby(["abx", "aby"], sort=False):
                _cut_group(g, int(abx), int(aby), out)
            if out["bx"]:
                frames.append(pd.DataFrame(out)[names])
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return u.repartition("abx", "aby").mapInPandas(_kernel, out_schema)


# ---------------------------------------------------------------------------
# probe routing over blocks: point lookup / batched kNN without unpacking
# ---------------------------------------------------------------------------

def sample_positions_blocks(
    blocks: DataFrame,
    positions: DataFrame,
    bits: int,
    exponents: list[int] | None = None,
    layers: list[str] | None = None,
    layer_types: dict[str, str] | None = None,
    broadcast_positions: bool = True,
) -> DataFrame:
    """Point lookup routed DIRECTLY to block rows — the block-path
    equivalent of ``query.sample_positions`` (reference quadrant routing,
    Query.fs:674-685), with identical output and finest-exponent-wins
    semantics (Query.fs:689-739).

    Per probe and exponent the containing cell's block key is computed
    arithmetically, probes equi-join the block table on ``(bx, by, e)``
    (broadcast by default), and the cell's occupancy + layer values are
    read by JVM ``element_at`` at the in-block index — no ``unpack_blocks``
    explode anywhere: a probe batch touches only the block rows it routes
    to, at one array-index read per layer.

    ``bits`` must be the pack width of ``blocks``. ``layer_types`` casts
    values back to exact source types (store-manifest contract, as in
    :func:`unpack_blocks`).
    """
    from pyspark.sql import Window as W

    if layers is None:
        layers, _ = _block_layers(blocks)
    vector_specs = resolve_vector_specs(layers)
    int_layers = {
        n for n, t in blocks.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    exps = (
        sorted({int(x) for x in exponents})
        if exponents is not None
        else sorted(r[0] for r in blocks.select("e").distinct().collect())
    )
    w = 1 << bits

    cand = None
    for e in exps:
        scale = float(2.0 ** e)
        cx = F.floor(F.col("px") / F.lit(scale)).cast("long")
        cy = F.floor(F.col("py") / F.lit(scale)).cast("long")
        c = positions.select(
            "pid", "px", "py",
            cx.alias("cx"), cy.alias("cy"),
            F.lit(e).cast("int").alias("e"),
        ).select(
            "*",
            F.shiftright(F.col("cx"), bits).alias("bx"),
            F.shiftright(F.col("cy"), bits).alias("by"),
        )
        cand = c if cand is None else cand.unionByName(c)
    if broadcast_positions:
        cand = F.broadcast(cand)

    j = blocks.join(cand, ["bx", "by", "e"], "inner")
    # 1-based in-block index of the probed cell
    idx = (
        (F.col("cy") - F.col("by") * F.col("w")) * F.col("w")
        + (F.col("cx") - F.col("bx") * F.col("w")) + F.lit(1)
    ).cast("int")
    hit = j.filter(F.element_at(F.col("occ"), idx))
    cols = [F.col("pid"), F.col("px"), F.col("py"),
            F.col("cx"), F.col("cy"), F.col("e")]
    for n in layers:
        spec = vector_specs.get(n)
        if spec is not None:
            # vector layers are flat w*w*k cell-major buffers: the probed
            # cell is slice [(idx-1)*k+1, k], holes tested per the pack
            # contract (intcolor mask element / channel-0 NaN) — a plain
            # element_at here would read the wrong element of the buffer
            k = spec.channels
            arr = F.slice(F.col(n), (idx - F.lit(1)) * k + F.lit(1), k)
            if spec.kind == "intcolor":
                col = F.when(F.element_at(F.col(f"{n}_mask"), idx), arr)
            else:
                first = F.element_at(F.col(n), (idx - F.lit(1)) * k + F.lit(1))
                col = F.when(first.isNull() | F.isnan(first), F.lit(None)).otherwise(arr)
            t = (layer_types or {}).get(n) or _registry_type(n)
            if t:
                col = col.cast(t)
        else:
            v = F.element_at(F.col(n), idx)
            if n in int_layers:
                col = F.when(F.element_at(F.col(f"{n}_mask"), idx), v)
            else:
                col = F.when(v.isNull() | F.isnan(v), F.lit(None)).otherwise(v)
            if layer_types and n in layer_types:
                col = col.cast(layer_types[n])
        cols.append(col.alias(n))
    out = hit.select(*cols)
    win = W.partitionBy("pid").orderBy(F.col("e").asc())
    return (
        out.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def knn_join_blocks(
    blocks: DataFrame,
    positions: DataFrame,
    k: int,
    bits: int,
    ring_exponent: int | None = None,
    max_rings: int = 64,
    layer_types: dict[str, str] | None = None,
    start_radius: int = 1,
    stage_input: bool = True,
) -> DataFrame:
    """Batched kNN over a BLOCK staging table — ``query.knn_join``
    semantics (k nearest by cell-center distance per probe, tie-break
    (dist, cx, cy)) without a standing per-sample table: the same ring loop
    (``query._knn_rounds``) with whole BLOCKS as the ring-keyed candidates,
    unpacking only the matched block rows (JVM posexplode of the round's
    candidates), so the steady-state block staging feeds the probe path
    with a pruned scan instead of a full ``unpack_blocks`` of the table.

    Correctness inherits :func:`~.query.knn_join`'s inscribed-circle
    guarantee: ``ring_exponent`` is clamped to at least ``max(e) + bits``
    so every block lies entirely inside ONE ring cell (block world extent
    divides the ring cell), making "all blocks in the probe's ring" a
    superset of "all sample centers within radius r*side". The covering
    round's data bbox is the block-extent bbox. Every block holds at least
    one occupied cell (the pack format), so a ring cell that matches a
    block yields at least one candidate row.
    """
    layers, _ = _block_layers(blocks)
    vector_specs = resolve_vector_specs(layers)
    int_l = {
        n for n, t in blocks.dtypes
        if t in _INT_ARRAY_TYPES and n in layers and n not in vector_specs
    }
    if stage_input:
        # each ring round re-joins the block table: cut once (callers with
        # an already-staged table pass stage_input=False)
        from .. import boundary as _bnd
        blocks = _bnd.cut(blocks)
    e_max = blocks.agg(F.max("e")).collect()[0][0]
    # an empty table skips the base rounds: its first round covers it
    min_re = (0 if e_max is None else int(e_max)) + bits
    ring_exponent = min_re if ring_exponent is None else max(int(ring_exponent), min_re)
    bside = F.pow(F.lit(2.0), F.col("e").cast("double")) * F.col("w").cast("double")
    bx0 = F.col("bx").cast("double") * bside
    by0 = F.col("by").cast("double") * bside

    def candidates(ring: DataFrame, cur_side: float) -> DataFrame:
        # block -> containing ring cell via the block's world min corner
        kb = blocks.select(
            "*",
            F.floor(bx0 / F.lit(cur_side)).cast("long").alias("_rcx"),
            F.floor(by0 / F.lit(cur_side)).cast("long").alias("_rcy"),
        )
        matched = ring.join(
            kb,
            (kb["_rcx"] == ring["_pcx"] + ring["_dx"]) & (kb["_rcy"] == ring["_pcy"] + ring["_dy"]),
            "left",
        )
        # unpack ONLY the matched blocks: the shared _explode_cells plan,
        # so vector layers read correctly here too
        return _explode_cells(
            matched, layers, int_l, vector_specs, layer_types,
            carry=["pid", "px", "py"], outer=True,
        )

    def data_bbox():
        b = blocks.agg(
            F.min(bx0).alias("x0"), F.min(by0).alias("y0"),
            F.max(bx0 + bside).alias("x1"), F.max(by0 + bside).alias("y1"),
        ).collect()[0]
        return None if b["x0"] is None else tuple(b)

    return Q._knn_rounds(
        positions, k, 2.0 ** ring_exponent, candidates, data_bbox, ["cx", "cy", "e", *layers],
        max_rings if e_max is not None else 0, start_radius,
    )


# ---------------------------------------------------------------------------
# window queries over blocks: block prune + the sample-path query
# ---------------------------------------------------------------------------

def _prune_blocks(blocks: DataFrame, node_outside) -> DataFrame:
    """Drop blocks whose world extent [x0,x1)x[y0,y1) the query's
    ``node_outside`` (the same function the sample path hands to
    ``query.query_generic``) declares fully outside. A plain Catalyst filter
    on (bx, by, e, w) — parquet min/max prunable, and it sits below the
    unpack's posexplode, so pruned blocks are never exploded.

    Callers run only ``sample_inside`` on the surviving cells: re-testing
    ``node_outside`` per cell drops no cell the fine test keeps (a cell
    fully outside has its position, rel < 1, outside too), and re-testing
    it measured ~0.3 s slower per small ``near_line_blocks`` query
    (perfbench window_queries spans, 4 cores)."""
    side = F.pow(F.lit(2.0), F.col("e").cast("double")) * F.col("w").cast("double")
    x0 = F.col("bx").cast("double") * side
    y0 = F.col("by").cast("double") * side
    return blocks.filter(~node_outside(x0, y0, x0 + side, y0 + side))


def inside_box_blocks(
    blocks: DataFrame,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    rel: tuple[float, float] = (0.5, 0.5),
    layers: list[str] | None = None,
) -> DataFrame:
    """J6 on the block path: ``query.inside_box`` over the unpacked cells of
    the blocks that overlap the box (inclusive bounds, Query.fs:450)."""
    node_outside, _ = Q._box_predicates(x0, y0, x1, y1)
    cells = unpack_blocks(_prune_blocks(blocks, node_outside), layers)
    return Q.inside_box(cells, x0, y0, x1, y1, rel)


def _select_cells(batch: pa.RecordBatch, sample_inside, rel: tuple[float, float]):
    """Row slices of a block batch ``(bx, by, e, w, occ, ...)`` with ``occ``
    replaced by ``occ & sample_inside(position)``; blocks left with no
    selected cell are dropped, every other column passes through. Each slice
    holds at most ``query._CELLS_PER_PASS`` cells (at least one block), so
    the numpy temporaries stay bounded whatever the batch size and block
    width; blocks of different widths may share a batch."""
    lens = np.diff(batch.column("occ").offsets.to_numpy())
    ends = np.cumsum(lens)
    r0 = 0
    while r0 < batch.num_rows:
        before = ends[r0 - 1] if r0 else 0
        r1 = max(int(np.searchsorted(ends, before + Q._CELLS_PER_PASS, side="right")), r0 + 1)
        part = batch.slice(r0, r1 - r0)
        offsets = np.concatenate(([0], np.cumsum(lens[r0:r1])))
        r0 = r1
        occ = part.column("occ").flatten().to_numpy(zero_copy_only=False)
        # only occupied cells get a position: their block row and index in
        # the block, then (cx, cy) exactly as the unpack computes them
        idx = np.flatnonzero(occ)
        row = np.searchsorted(offsets, idx, side="right") - 1
        pos = idx - offsets[row]
        w = part.column("w").to_numpy().astype(np.int64)[row]
        e = part.column("e").to_numpy()[row]
        cx = part.column("bx").to_numpy().astype(np.int64)[row] * w + pos % w
        cy = part.column("by").to_numpy().astype(np.int64)[row] * w + pos // w
        hit = sample_inside(CN.sample_pos(cx, e, rel[0]), CN.sample_pos(cy, e, rel[1]))
        sel = np.zeros(len(occ), dtype=bool)
        sel[idx[hit]] = True
        new_occ = pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)), pa.array(sel), type=part.schema.field("occ").type
        )
        cols = [new_occ if f.name == "occ" else part.column(f.name) for f in part.schema]
        keep = np.bincount(row[hit], minlength=part.num_rows) > 0
        yield pa.RecordBatch.from_arrays(cols, schema=part.schema).filter(pa.array(keep))


def inside_polygon_blocks(
    blocks: DataFrame,
    verts: list[tuple[float, float]],
    rel: tuple[float, float] = (0.5, 0.5),
    layers: list[str] | None = None,
) -> DataFrame:
    """J7 on the block path: ``query.inside_polygon``'s predicates — its
    ``node_outside`` on the block extent, its numpy ``sample_inside`` (bbox +
    winding) on each surviving block's occupied cells in one Arrow pass that
    clears the ``occ`` bits of the cells outside, then the unpack."""
    node_outside, sample_inside = Q._polygon_predicates(verts)
    if layers is None:
        layers, _ = _block_layers(blocks)
    # project first: a Python kernel is opaque to column pruning
    cols = ["bx", "by", "e", "w", "occ",
            *(c for n in layers for c in (n, f"{n}_mask") if c in blocks.columns)]
    pruned = _prune_blocks(blocks, node_outside).select(*cols)

    def _kernel(batches):
        for batch in batches:
            yield from _select_cells(batch, sample_inside, rel)

    return unpack_blocks(pruned.mapInArrow(_kernel, pruned.schema), layers)


def near_line_blocks(
    blocks: DataFrame,
    ox: float,
    oy: float,
    dx: float,
    dy: float,
    dist: float,
    rel: tuple[float, float] = (0.5, 0.5),
    layers: list[str] | None = None,
) -> DataFrame:
    """J8 on the block path: ``query.near_line``'s predicates — its
    ``node_outside`` (all block corners on one side of the band) on the
    block extent, its exact distance test on the unpacked cells
    (Query.fs:477-488)."""
    node_outside, sample_inside = Q._line_predicates(ox, oy, dx, dy, dist)
    cells = unpack_blocks(_prune_blocks(blocks, node_outside), layers)
    return Q.query_generic(cells, sample_inside, rel=rel)


def inside_cell_blocks(
    blocks: DataFrame, qcx: int, qcy: int, qe: int,
    layers: list[str] | None = None,
) -> DataFrame:
    """J4 on the block path: ``query.inside_cell`` over the unpacked cells of
    the blocks that overlap the query cell at ``e <= qe`` (a coarser-than-
    query sample can never be inside it; Query.fs:439-444)."""
    pruned = _prune_blocks(blocks, Q._cell_outside(qcx, qcy, qe))
    cells = unpack_blocks(pruned.filter(F.col("e") <= F.lit(int(qe))), layers)
    return Q.inside_cell(cells, qcx, qcy, qe)


def intersects_cell_blocks(
    blocks: DataFrame, qcx: int, qcy: int, qe: int,
    layers: list[str] | None = None,
) -> DataFrame:
    """J5 on the block path: ``query.intersects_cell`` over the unpacked cells
    of the blocks that overlap the query cell — no exponent restriction, so
    coarser-parent blocks survive and the supersampling fallback holds
    (Query.fs:575-592)."""
    cells = unpack_blocks(_prune_blocks(blocks, Q._cell_outside(qcx, qcy, qe)), layers)
    return Q.intersects_cell(cells, qcx, qcy, qe)


def polygon_count_blocks(
    blocks: DataFrame,
    verts: list[tuple[float, float]],
    rel: tuple[float, float] = (0.5, 0.5),
) -> DataFrame:
    """Occupied-cell count inside a polygon WITHOUT exploding rows: bbox
    prune, then the cell selection of :func:`inside_polygon_blocks`
    (:func:`_select_cells`, Arrow-batched numpy) and a count of the selected
    cells per task. Returns one row (n_inside).

    Why a kernel and not SQL: Spark evaluates higher-order-function lambdas
    with interpreted expressions per ELEMENT (measured 15s for 16.7M cells
    x 4 edges), and the posexplode alternative materializes 16.7M struct
    rows (measured 31s). Semantics == ``query.inside_polygon`` exactly (one
    numpy ``sample_inside``) — parity-tested against ``inside_polygon``.
    """
    node_outside, sample_inside = Q._polygon_predicates(verts)
    pruned = _prune_blocks(blocks, node_outside).select("bx", "by", "e", "w", "occ")

    def _count(batches):
        n = 0
        for batch in batches:
            for part in _select_cells(batch, sample_inside, rel):
                n += int(np.count_nonzero(part.column("occ").flatten().to_numpy(zero_copy_only=False)))
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])

    per_task = pruned.mapInArrow(_count, "n long")
    return per_task.agg(F.sum("n").alias("n_inside"))
