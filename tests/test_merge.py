"""Merge goldens — exact (cell -> value) sets from Tests/StructureTests.fs
and dominance behaviors from Tests/MergeTests.fs, resolved eagerly."""

import math

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators.merge import (
    Dominance,
    flatten_patches,
    merge_layers,
    merge_samples,
)
from aardvark_geometry_quadtree_spark.sources.grids import grid_with_values


def _as_map(df):
    return {(r["cx"], r["cy"], r["e"]): r["height"] for r in df.collect()}


@pytest.fixture(scope="module")
def abc(spark):
    """The a/b/c patches of StructureTests 'sm 2020-12-07' (fs:1016-1069)."""
    a = grid_with_values(spark, 0, 0, 2, 2, [1.0, 2.0, 3.0, 4.0], e=1, patch_id=0)
    b = grid_with_values(spark, 2, 0, 2, 2, [-1.0, -2.0, -3.0, -4.0], e=0, patch_id=1)
    c = grid_with_values(spark, 4, 0, 2, 2, [91.0, 92.0, 93.0, 94.0], e=-1, patch_id=2)
    return a, b, c


C_CELLS = {(4, 0, -1): 91.0, (5, 0, -1): 92.0, (4, 1, -1): 93.0, (5, 1, -1): 94.0}


def test_sm_2020_12_07(abc):
    # (a ∘S b) ∘S c — StructureTests.fs:1016-1069
    a, b, c = abc
    m1 = merge_samples(a, b, Dominance.SecondDominates)
    m2 = merge_samples(m1, c, Dominance.SecondDominates)
    expect = {
        (0, 0, 1): 1.0, (0, 1, 1): 3.0, (1, 1, 1): 4.0,
        (3, 0, 0): -2.0, (2, 1, 0): -3.0, (3, 1, 0): -4.0,
        **C_CELLS,
    }
    assert _as_map(m2) == expect


def test_quadrant_replace_first_second(abc):
    # merge a b c FirstDominates SecondDominates — StructureTests.fs:1119-1138
    a, b, c = abc
    m = merge_samples(merge_samples(a, b, Dominance.FirstDominates), c, Dominance.SecondDominates)
    expect = {
        (0, 0, 1): 1.0, (0, 1, 1): 3.0, (1, 1, 1): 4.0,
        (3, 0, 0): 2.0, (2, 1, 0): 2.0, (3, 1, 0): 2.0,  # fragments of (1,0,1)=2.0
        **C_CELLS,
    }
    assert _as_map(m) == expect


def test_quadrant_replace_second_first(abc):
    # merge a b c SecondDominates FirstDominates — StructureTests.fs:1140-1157
    a, b, c = abc
    m = merge_samples(merge_samples(a, b, Dominance.SecondDominates), c, Dominance.FirstDominates)
    expect = {
        (0, 0, 1): 1.0, (0, 1, 1): 3.0, (1, 1, 1): 4.0,
        (2, 0, 0): -1.0, (3, 0, 0): -2.0, (2, 1, 0): -3.0, (3, 1, 0): -4.0,
    }
    assert _as_map(m) == expect


def test_first_dominates_drops_contained(abc):
    # merge a b FirstDominates: b fully inside a -> b vanishes
    # (winner fast path Merge.fs:80-88; StructureTests.fs:1228-1240)
    a, b, _ = abc
    m = merge_samples(a, b, Dominance.FirstDominates)
    assert _as_map(m) == {(0, 0, 1): 1.0, (1, 0, 1): 2.0, (0, 1, 1): 3.0, (1, 1, 1): 4.0}


def test_two_level_fragmentation(spark):
    # Merge SecondDominates a c where c is 2 exponents finer inside one a-cell
    # (StructureTests.fs:~940-1008): fragments appear at BOTH e0 and e-1? No —
    # c = 2x2 at (2,0,-1) covers exactly cell (1,0,0); fragments of (0,0,1)
    # at e0 survive around it.
    a = grid_with_values(spark, 0, 0, 2, 2, [1.0, 2.0, 3.0, 4.0], e=1, patch_id=0)
    c = grid_with_values(spark, 2, 0, 2, 2, [91.0, 92.0, 93.0, 94.0], e=-1, patch_id=1)
    m = merge_samples(a, c, Dominance.SecondDominates)
    expect = {
        (0, 0, 0): 1.0, (0, 1, 0): 1.0, (1, 1, 0): 1.0,  # fragments of (0,0,1)
        (1, 0, 1): 2.0, (0, 1, 1): 3.0, (1, 1, 1): 4.0,
        (2, 0, -1): 91.0, (3, 0, -1): 92.0, (2, 1, -1): 93.0, (3, 1, -1): 94.0,
    }
    assert _as_map(m) == expect


def test_more_detailed_dominance(spark):
    # MoreDetailedOrFirst: finer side wins regardless of order; ties -> named side
    coarse = grid_with_values(spark, 0, 0, 1, 1, [10.0], e=1, patch_id=0)
    fine = grid_with_values(spark, 0, 0, 2, 2, [1.0, 2.0, 3.0, 4.0], e=0, patch_id=1)
    m = merge_samples(coarse, fine, Dominance.MoreDetailedOrFirst)
    assert _as_map(m) == {(0, 0, 0): 1.0, (1, 0, 0): 2.0, (0, 1, 0): 3.0, (1, 1, 0): 4.0}
    m2 = merge_samples(fine, coarse, Dominance.MoreDetailedOrSecond)
    assert _as_map(m2) == {(0, 0, 0): 1.0, (1, 0, 0): 2.0, (0, 1, 0): 3.0, (1, 1, 0): 4.0}
    # tie on exponent -> named side wins
    x = grid_with_values(spark, 0, 0, 1, 1, [5.0], e=0, patch_id=0)
    y = grid_with_values(spark, 0, 0, 1, 1, [7.0], e=0, patch_id=1)
    assert _as_map(merge_samples(x, y, Dominance.MoreDetailedOrFirst)) == {(0, 0, 0): 5.0}
    assert _as_map(merge_samples(x, y, Dominance.MoreDetailedOrSecond)) == {(0, 0, 0): 7.0}


def test_disjoint_merge_is_union(spark):
    a = grid_with_values(spark, 0, 0, 2, 1, [1.0, 2.0], e=0, patch_id=0)
    b = grid_with_values(spark, 10, 10, 2, 1, [8.0, 9.0], e=0, patch_id=1)
    m = merge_samples(a, b, Dominance.FirstDominates)
    assert _as_map(m) == {(0, 0, 0): 1.0, (1, 0, 0): 2.0, (10, 10, 0): 8.0, (11, 10, 0): 9.0}


def test_merge_layers_first_writer_wins_unless_undefined(spark):
    # Layer.fs:399-421: first non-undefined in patch order
    nan = float("nan")
    p0 = grid_with_values(spark, 0, 0, 2, 1, [nan, 1.0], e=0, patch_id=0)
    p1 = grid_with_values(spark, 0, 0, 2, 1, [5.0, 6.0], e=0, patch_id=1)
    patches = p0.unionByName(p1)
    # normalize NaN -> NULL (registry semantics) before winner selection
    patches = patches.withColumn(
        "height", F.when(F.isnan("height"), F.lit(None)).otherwise(F.col("height"))
    )
    m = merge_layers(patches, ["height"])
    got = _as_map(m)
    assert got == {(0, 0, 0): 5.0, (1, 0, 0): 1.0}


def test_flatten_patches_finer_wins(spark):
    # Layer.fs:454-560: supersample to finest, last (finer) writer wins
    coarse = grid_with_values(spark, 0, 0, 1, 1, [10.0], e=1, patch_id=0)
    fine = grid_with_values(spark, 0, 0, 1, 1, [99.0], e=0, patch_id=1)
    m = flatten_patches(coarse.unionByName(fine), ["height"])
    got = _as_map(m)
    # coarse cell covers 2x2 at e0; fine overwrites (0,0,0)
    assert got == {(0, 0, 0): 99.0, (1, 0, 0): 10.0, (0, 1, 0): 10.0, (1, 1, 0): 10.0}


def test_flatten_undefined_never_overwrites(spark):
    nan = float("nan")
    coarse = grid_with_values(spark, 0, 0, 1, 1, [10.0], e=1, patch_id=0)
    fine = grid_with_values(spark, 0, 0, 1, 1, [nan], e=0, patch_id=1)
    patches = coarse.unionByName(fine).withColumn(
        "height", F.when(F.isnan("height"), F.lit(None)).otherwise(F.col("height"))
    )
    m = flatten_patches(patches, ["height"])
    got = _as_map(m)
    assert got == {(0, 0, 0): 10.0, (1, 0, 0): 10.0, (0, 1, 0): 10.0, (1, 1, 0): 10.0}


def test_same_exponent_fast_path_matches_general(spark):
    # exponent hints select the single-shuffle plan; results must be identical
    a = grid_with_values(spark, 0, 0, 3, 2, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0], e=0, patch_id=0)
    b = grid_with_values(spark, 1, 0, 3, 2, [-1.0, -2.0, -3.0, -4.0, -5.0, -6.0], e=0, patch_id=1)
    for dom in Dominance:
        fast = _as_map(merge_samples(a, b, dom, first_exponents=[0], second_exponents=[0]))
        general = _as_map(merge_samples(a, b, dom))
        assert fast == general, dom


def test_merge_random_stress_no_throw(spark):
    """MergeTests.fs:455-605 analogue: seeded random merges; invariants only —
    no exception, output non-overlapping, count plausibility."""
    import random

    from aardvark_geometry_quadtree_spark.sources.grids import grid

    rng = random.Random(42)
    acc = None
    for i in range(6):
        e = rng.randint(-2, 2)
        ox, oy = rng.randint(-8, 8), rng.randint(-8, 8)
        w, h = rng.randint(1, 6), rng.randint(1, 6)
        g = grid(spark, ox, oy, w, h, e=e, pattern="seq", patch_id=i)
        dom = rng.choice(list(Dominance))
        acc = g if acc is None else merge_samples(acc, g, dom)
    rows = acc.collect()
    # non-overlap invariant: no cell is the ancestor of another
    cells = [(r["cx"], r["cy"], r["e"]) for r in rows]
    assert len(cells) == len(set(cells))
    byexp = {}
    for cx, cy, e in cells:
        byexp.setdefault(e, set()).add((cx, cy))
    exps = sorted(byexp)
    for i, ea in enumerate(exps):
        for eb in exps[i + 1:]:
            k = eb - ea
            up = {(cx >> k, cy >> k) for cx, cy in byexp[ea]}
            assert not (up & byexp[eb]), f"overlap between e={ea} and e={eb}"
    assert math.isfinite(sum(r["height"] for r in rows))


def test_validate_hints_fails_loudly(spark):
    # wrong hints claim one common exponent -> fast path would mis-merge; the
    # welded assert errors the job instead of silently collapsing resolutions
    a = grid_with_values(spark, 0, 0, 2, 1, [1.0, 2.0], e=0)
    b = grid_with_values(spark, 0, 0, 1, 1, [9.0], e=1)  # actually e=1, hinted 0
    m = merge_samples(
        a, b, Dominance.FirstDominates,
        first_exponents=[0], second_exponents=[0], validate_hints=True,
    )
    with pytest.raises(Exception, match="hint violation"):
        m.collect()
    # correct hints with validation on: identical to the unhinted result
    m_ok = merge_samples(
        a, b, Dominance.FirstDominates,
        first_exponents=[0], second_exponents=[1], validate_hints=True,
    )
    assert _as_map(m_ok) == _as_map(merge_samples(a, b, Dominance.FirstDominates))


def test_chained_merge_through_store_boundary(spark, tmp_path, abc):
    # the durable boundary (staged parquet, resumable) must be a drop-in for
    # localCheckpoint in chained merges
    from aardvark_geometry_quadtree_spark import boundary as bnd

    a, b, c = abc
    expect = _as_map(
        merge_samples(merge_samples(a, b, Dominance.SecondDominates), c, Dominance.SecondDominates)
    )
    bnd.set_default_boundary(bnd.store_boundary(spark, str(tmp_path / "cuts")))
    try:
        m1 = merge_samples(a, b, Dominance.SecondDominates)
        m2 = merge_samples(m1, c, Dominance.SecondDominates)
        assert _as_map(m2) == expect
    finally:
        bnd.set_default_boundary(None)
    # the cuts are real staged tables with _SUCCESS markers (resume points)
    import os

    stages = os.listdir(tmp_path / "cuts")
    assert stages and all(
        os.path.exists(tmp_path / "cuts" / s / "_SUCCESS") for s in stages
    )
