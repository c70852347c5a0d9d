"""Dominance-aware merge — the "writes" of this engine (SURVEY.md §2.4, J11).

The reference's ``Quadtree.Merge dom first second`` (Merge.fs:93-162) touches
no data: it records an ``InMemoryMerge`` node and defers resolution to query
traversal (Query.fs:79-338). This engine inverts that deliberately: merges
are resolved **eagerly at build time** into a plain samples set, amortizing
the cost across all subsequent queries (a semantics-preserving architectural
change; the golden outputs in Tests/StructureTests.fs are reproduced
tile-for-tile by tests/test_merge.py).

Resolution semantics (Query.fs:79-196 ``mergeDominatingPerSample``):
- every sample of the *dominating* side passes through;
- a dominated sample fully covered by a beating sample is dropped;
- a dominated sample partially covered is recursively split into quadrants
  ("SubCellsSelected" fragments, Query.fs:134-168): fragments fully covered
  drop, disjoint fragments survive *valued from their coarse parent*
  (the parent-fallback read, Query.fs:64-73).

Dominance (Node.fs:12-23): First/SecondDominates = that side beats on any
overlap; MoreDetailedOrFirst/Second = the finer sample beats, ties go to
the named side.

Distributed shape: the overlap relation between cells is ancestor/descendant,
so beat-pairs come from equi-joins on computed ancestor keys over the (few)
distinct exponents — no theta join, no explosion. Only the boundary cells
enter the Python refinement kernel (Arrow-batched mapInPandas); fully-inside
and fully-outside cells are classified by Catalyst joins. The reference's
``Merge.winner`` fast path (Merge.fs:80-88) falls out for free: a fully
covered side simply loses every cell in the covered-anti-join.
"""

from __future__ import annotations

from enum import Enum

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import boundary as _bnd
from ..functions import cells as C


class Dominance(str, Enum):
    FirstDominates = "first"
    SecondDominates = "second"
    MoreDetailedOrFirst = "more_detailed_or_first"
    MoreDetailedOrSecond = "more_detailed_or_second"

    @property
    def flipped(self) -> "Dominance":
        """Node.fs:18-23."""
        return {
            Dominance.FirstDominates: Dominance.SecondDominates,
            Dominance.SecondDominates: Dominance.FirstDominates,
            Dominance.MoreDetailedOrFirst: Dominance.MoreDetailedOrSecond,
            Dominance.MoreDetailedOrSecond: Dominance.MoreDetailedOrFirst,
        }[self]


def _beats(dom: Dominance, x_e, x_src, y_e):
    """Column predicate: does overlapping sample x beat sample y?
    (x_src != y_src by construction)."""
    if dom == Dominance.FirstDominates:
        return x_src == 1
    if dom == Dominance.SecondDominates:
        return x_src == 2
    if dom == Dominance.MoreDetailedOrFirst:
        return (x_e < y_e) | ((x_e == y_e) & (x_src == 1))
    return (x_e < y_e) | ((x_e == y_e) & (x_src == 2))


def merge_samples(
    first: DataFrame,
    second: DataFrame,
    dominance: Dominance | str = Dominance.FirstDominates,
    layers: list[str] | None = None,
    first_exponents: list[int] | None = None,
    second_exponents: list[int] | None = None,
    validate_hints: bool = False,
    boundary=None,
) -> DataFrame:
    """Eagerly resolved merge of two samples sets (binary, chainable).

    Inputs are samples frames ``(cx, cy, e, <layers...>)``. Precondition:
    each side is internally non-overlapping with ``(cx, cy, e)`` UNIQUE
    within it (a valid tree / prior merge result); duplicate keys on one
    side would collapse into one fragment judgment instead of being tracked
    as distinct rows. Output is again a non-overlapping samples frame with
    mixed exponents (fragments keep the dominated side's coarse values).

    ``first_exponents``/``second_exponents``: optional caller-known exponent
    sets. When both sides live at ONE common exponent the merge degenerates
    to a winner-per-cell hash aggregation — a single shuffle with map-side
    combine, no row ids, no materialization, no sort-merge join. When the
    sets differ, the hints still skip the metadata discovery scan (one job
    saved per merge — the dominant fixed cost in chained builds). The hints
    are TRUSTED by default (rows at unhinted exponents would be mis-merged);
    ``validate_hints=True`` welds a zero-extra-job guard into the plan that
    fails the merge loudly if any row's exponent falls outside its side's
    hinted set (a filter branch carrying a non-foldable ``assert_true`` —
    no separate validation job, just one more pushed predicate).

    Row identity is the natural key ``(cx, cy, e, src)`` — unique per side
    per the precondition above — so every join is deterministic under
    recomputation (stage retry safe; no monotonically_increasing_id).

    ``boundary``: plan-cut hook between chained merges (see
    :mod:`aardvark_geometry_quadtree_spark.boundary`); default is
    ``localCheckpoint`` — fast but not durable — and cluster builds should
    install the staged-table boundary (``store_boundary``) so executor loss
    resumes from parquet instead of rerunning the chain.
    """
    dominance = Dominance(dominance)
    key = ("cx", "cy", "e")
    layers = layers or [c for c in first.columns if c not in key and c != "patch_id"]

    def _norm(df: DataFrame) -> DataFrame:
        # canonical undefined encoding is SQL NULL (registry convention):
        # the Arrow/pandas boundary of the fragment kernel conflates NaN and
        # null anyway, so normalize float NaN -> NULL up front for a
        # consistent output encoding
        cols = [F.col(k) for k in key]
        dt = dict(df.dtypes)
        for c in layers:
            if c not in df.columns:
                continue
            col = F.col(c)
            if dt.get(c) in ("float", "double"):
                col = F.when(F.isnan(col), F.lit(None)).otherwise(col)
            cols.append(col.alias(c))
        return df.select(*cols)

    def _guard(df: DataFrame, exps, side: str) -> DataFrame:
        # weld the hint assertion into the plan itself: evaluated per row in
        # codegen, errors the merge job on the first unhinted exponent seen.
        # The otherwise-branch is unreachable (assert_true is null or throws)
        # but keeps the branches distinct so the optimizer can't fold the
        # conditional away.
        if not validate_hints or exps is None:
            return df
        ok = F.col("e").isin(sorted({int(x) for x in exps}))
        msg = F.concat(
            F.lit(f"merge_samples hint violation: {side} row at unhinted exponent e="),
            F.col("e").cast("string"),
        )
        return df.withColumn(
            "e", F.when(F.assert_true(ok, msg).isNull(), F.col("e")).otherwise(F.lit(None))
        )

    a = _guard(_norm(first), first_exponents, "first")
    b = _guard(_norm(second), second_exponents, "second")

    if (
        first_exponents is not None
        and second_exponents is not None
        and len(set(first_exponents) | set(second_exponents)) == 1
    ):
        return _merge_same_exponent(a, b, dominance, layers)
    u = a.withColumn("src", F.lit(1)).unionByName(
        b.withColumn("src", F.lit(2)), allowMissingColumns=True
    )
    # plan-cut: chained merges would otherwise stack join+kernel plans
    # exponentially. Default boundary is localCheckpoint — NOTE it truncates
    # lineage, so a block lost with an executor cannot be recomputed and the
    # job aborts back to the previous durable boundary (it cannot corrupt
    # results: identity is the natural key, a rerun is deterministic).
    # Cluster builds install boundary.store_boundary so the cut is a
    # persisted, resumable staging table instead (see boundary.py).
    u = _bnd.cut(u, boundary)

    if first_exponents is not None and second_exponents is not None:
        exps = {1: sorted(set(first_exponents)), 2: sorted(set(second_exponents))}
    else:
        exps = {1: set(), 2: set()}
        for r in u.select("src", "e").distinct().collect():
            exps[r[0]].add(r[1])
        exps = {k: sorted(v) for k, v in exps.items()}

    # --- overlap pairs: (descendant d, ancestor-or-equal a) across sides ----
    # for each row, its ancestor key at every opposite-side exponent >= own e;
    # identity is the natural key (cx, cy, e, src) throughout — deterministic
    # under stage retry, unlike monotonically_increasing_id
    ukey = ["cx", "cy", "e", "src"]
    anc_parts = []
    for src_val, other in ((1, exps[2]), (2, exps[1])):
        rows = u.filter(F.col("src") == src_val)
        for ex in other:
            anc_parts.append(
                rows.filter(F.col("e") <= F.lit(ex)).select(
                    F.col("cx").alias("d_cx"),
                    F.col("cy").alias("d_cy"),
                    F.col("e").alias("d_e"),
                    F.col("src").alias("d_src"),
                    C.parent_coord(F.col("cx"), (F.lit(ex) - F.col("e")).cast("int")).alias("a_cx"),
                    C.parent_coord(F.col("cy"), (F.lit(ex) - F.col("e")).cast("int")).alias("a_cy"),
                    F.lit(ex).cast("int").alias("a_e"),
                    F.lit(3 - src_val).alias("a_src"),
                )
            )
    if not anc_parts:
        return u.select(*key, *layers)
    anc = anc_parts[0]
    for p in anc_parts[1:]:
        anc = anc.unionByName(p)

    other_keys = u.select(
        F.col("cx").alias("a_cx"),
        F.col("cy").alias("a_cy"),
        F.col("e").alias("a_e"),
        F.col("src").alias("a_src"),
    )
    # (cx,cy,e,src) is unique per side, so the semi join keeps exactly the
    # candidate pairs whose ancestor cell actually exists on the other side
    pairs = anc.join(other_keys, ["a_cx", "a_cy", "a_e", "a_src"], "left_semi").cache()

    # identical cells generate the pair twice (once per direction); the beat
    # rule is antisymmetric so each judgment is still one-directional
    covered = (
        pairs.filter(_beats(dominance, F.col("a_e"), F.col("a_src"), F.col("d_e")))
        .select(
            F.col("d_cx").alias("cx"),
            F.col("d_cy").alias("cy"),
            F.col("d_e").alias("e"),
            F.col("d_src").alias("src"),
        )
        .distinct()
    )
    # strict descendants that beat their ancestor -> the ancestor fragments
    beaters = (
        pairs.filter(
            (F.col("d_e") < F.col("a_e"))
            & _beats(dominance, F.col("d_e"), F.col("d_src"), F.col("a_e"))
        )
        .join(
            covered.select(
                F.col("cx").alias("a_cx"),
                F.col("cy").alias("a_cy"),
                F.col("e").alias("a_e"),
                F.col("src").alias("a_src"),
            ),
            ["a_cx", "a_cy", "a_e", "a_src"],
            "left_anti",
        )
        .groupBy("a_cx", "a_cy", "a_e", "a_src")
        .agg(
            F.collect_list("d_cx").alias("b_cx"),
            F.collect_list("d_cy").alias("b_cy"),
            F.collect_list("d_e").alias("b_e"),
        )
        .select(
            F.col("a_cx").alias("cx"),
            F.col("a_cy").alias("cy"),
            F.col("a_e").alias("e"),
            F.col("a_src").alias("src"),
            "b_cx",
            "b_cy",
            "b_e",
        )
    )

    survivors = u.join(covered, ukey, "left_anti")

    # fast path: merges between equal-exponent sets have no strict-descendant
    # beaters, so no fragmentation — skip the Python kernel entirely (this is
    # the common case for same-resolution crawl merges; it also subsumes the
    # reference's Merge.winner metadata short-circuit, Merge.fs:80-88)
    if len(set(exps[1]) | set(exps[2])) <= 1:
        return survivors.select(*key, *layers)  # no cross-resolution beaters

    frag_in = survivors.join(beaters, ukey, "inner")
    passthrough = survivors.join(beaters.select(*ukey), ukey, "left_anti").select(
        *key, *layers
    )

    # --- refinement kernel: quadtree decomposition of cell minus beaters ----
    e_type = dict(u.dtypes)["e"]  # mirror the input exponent type (int/long)
    out_schema = ", ".join(
        ["cx long", "cy long", f"e {e_type}"]
        + [f"{name} {t}" for name, t in frag_in.select(*layers).dtypes]
    )

    def _refine(iterator):
        for pdf in iterator:
            out_rows: list[tuple] = []
            for row in pdf.itertuples(index=False):
                bcx = np.asarray(row.b_cx, dtype=np.int64)
                bcy = np.asarray(row.b_cy, dtype=np.int64)
                be = np.asarray(row.b_e, dtype=np.int64)
                vals = tuple(getattr(row, name) for name in layers)
                stack = [(int(row.cx), int(row.cy), int(row.e))]
                while stack:
                    cx, cy, e = stack.pop()
                    # beater contains fragment (Query.fs isDominatedCellYcFullyCovered)
                    k_up = be - e
                    up = k_up >= 0
                    if np.any(up & (np.right_shift(cx, np.where(up, k_up, 0)) == bcx)
                              & (np.right_shift(cy, np.where(up, k_up, 0)) == bcy)):
                        continue  # fully covered -> discard
                    # beater strictly inside fragment -> split (Query.fs resolve)
                    k_dn = e - be
                    dn = k_dn > 0
                    if np.any(dn & (np.right_shift(bcx, np.where(dn, k_dn, 0)) == cx)
                              & (np.right_shift(bcy, np.where(dn, k_dn, 0)) == cy)):
                        for q in range(4):
                            stack.append((cx * 2 + (q & 1), cy * 2 + (q >> 1), e - 1))
                        continue
                    out_rows.append((cx, cy, e) + vals)
            cols = ["cx", "cy", "e", *layers]
            if out_rows:
                yield pd.DataFrame(out_rows, columns=cols)
            else:
                yield pd.DataFrame({c: [] for c in cols})

    fragments = frag_in.select("cx", "cy", "e", *layers, "b_cx", "b_cy", "b_e").mapInPandas(
        _refine, out_schema
    )
    return passthrough.unionByName(fragments)


def _merge_same_exponent(a: DataFrame, b: DataFrame, dominance: Dominance, layers: list[str]) -> DataFrame:
    """Winner-per-cell hash aggregation for single-common-exponent merges.

    At one shared exponent, cells either coincide (dominance picks the row)
    or are disjoint (pass through) — exactly ``groupBy(cell).max_by(src
    priority)``. MoreDetailed* ties on exponent, so it reduces to the named
    side's precedence (Node.fs:12-23)."""
    win_first = dominance in (Dominance.FirstDominates, Dominance.MoreDetailedOrFirst)
    u = a.withColumn("_src", F.lit(1)).unionByName(
        b.withColumn("_src", F.lit(2)), allowMissingColumns=True
    )
    pri = (F.lit(3) - F.col("_src")) if win_first else F.col("_src")
    aggs = [F.max_by(F.col(name), pri).alias(name) for name in layers]
    return u.groupBy("cx", "cy", "e").agg(*aggs)


# ---------------------------------------------------------------------------
# M2/M3: same-resolution merge and multi-resolution flatten (Builder path)
# ---------------------------------------------------------------------------

def merge_layers(patches: DataFrame, layers: list[str], order_col: str = "patch_id") -> DataFrame:
    """Same-exponent multi-patch paint: first writer wins unless its value is
    undefined (Layer.fs:360-446 mergeTyped). Undefined = SQL NULL (normalize
    NaN/INT_MIN upstream via the registry). One hash aggregation with
    map-side combine; per-layer winner via max_by priority."""
    aggs = []
    for name in layers:
        pri = F.struct(F.col(name).isNotNull().alias("def"), (-F.col(order_col)).alias("o"))
        aggs.append(F.max_by(F.col(name), pri).alias(name))
    return patches.groupBy("cx", "cy", "e").agg(*aggs)


def flatten_patches(
    patches: DataFrame,
    layers: list[str],
    order_col: str = "patch_id",
    target_e: int | None = None,
) -> DataFrame:
    """Multi-resolution flatten (Layer.fs:454-560 flattenTyped; the Builder's
    build'' stop rule, Builder.fs:180-183): supersample all patches to the
    finest exponent, then paint coarse -> fine so the last non-undefined
    writer wins — i.e. winner priority (defined, finer e, later patch).
    """
    from .pyramid import supersample_to

    if target_e is None:
        target_e = patches.agg(F.min("e")).collect()[0][0]
    src = patches.select("cx", "cy", "e", *layers, order_col).withColumn(
        "_orig_e", F.col("e")  # captured before supersampling rewrites e
    )
    flat = supersample_to(src, target_e)
    aggs = []
    for name in layers:
        pri = F.struct(
            F.col(name).isNotNull().alias("def"),
            (-F.col("_orig_e")).alias("fine"),
            F.col(order_col).alias("o"),
        )
        aggs.append(F.max_by(F.col(name), pri).alias(name))
    return flat.groupBy("cx", "cy", "e").agg(*aggs)
