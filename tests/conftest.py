import pytest

from aardvark_geometry_quadtree_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="qt-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def q10x7(spark):
    """The reference's canonical 10x7 e=0 split=2 grid, value = x + y/100
    (Tests/QueryTests.fs:12-23)."""
    from aardvark_geometry_quadtree_spark.sources.grids import grid

    return grid(spark, 0, 0, 10, 7, e=0, pattern="xy").cache()


def _winding_expr(px, py, verts):
    """Winding-number point-in-polygon as a plan-time Column expression: the
    edge loop unrolled into Catalyst arithmetic, the same edge arithmetic in
    the same order as ``query._winding_np``. Nonzero winding rule, boundary
    points counted as inside."""
    from pyspark.sql import functions as F

    n = len(verts)
    wind = F.lit(0)
    on_edge = F.lit(False)
    for i in range(n):
        x1, y1 = (float(v) for v in verts[i])
        x2, y2 = (float(v) for v in verts[(i + 1) % n])
        cross = (F.lit(x2 - x1)) * (py - F.lit(y1)) - (F.lit(y2 - y1)) * (px - F.lit(x1))
        up = (F.lit(y1) <= py) & (py < F.lit(y2)) & (cross > 0)
        down = (F.lit(y2) <= py) & (py < F.lit(y1)) & (cross < 0)
        wind = wind + F.when(up, F.lit(1)).when(down, F.lit(-1)).otherwise(F.lit(0))
        within_seg = (
            (px >= F.lit(min(x1, x2))) & (px <= F.lit(max(x1, x2)))
            & (py >= F.lit(min(y1, y2))) & (py <= F.lit(max(y1, y2)))
        )
        on_edge = on_edge | ((cross == 0) & within_seg)
    return (wind != 0) | on_edge


@pytest.fixture(scope="session")
def winding_expr():
    """The Catalyst reference of the numpy polygon test: ``winding_expr(px,
    py, verts) -> Column`` (the package's one polygon test runs in numpy)."""
    return _winding_expr


def _band_keys(vec, planes, bands):
    """Sign-LSH band keys as plan-time Column expressions: the signature over
    ``planes`` split into ``bands`` integer keys of len(planes)/bands bits,
    bit j of key b = (vec . planes[b * rows + j]) >= 0, each dot product an
    ``aggregate(zip_with(...))`` over a literal plane array."""
    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.similarity import dot

    rows = len(planes) // bands
    keys = []
    for b in range(bands):
        out = F.lit(0).cast("long")
        for j in range(rows):
            pl = F.array(*[F.lit(v) for v in planes[b * rows + j]])
            out = out + F.when(dot(vec, pl) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        keys.append(out)
    return keys


@pytest.fixture(scope="session")
def band_keys():
    """The Catalyst reference of the kernel's band keys: ``band_keys(vec,
    planes, bands) -> list[Column]`` (the package computes every sign-LSH
    key in ``similarity._scored_arrow``)."""
    return _band_keys


@pytest.fixture(scope="session")
def lsh_bucket():
    """The Catalyst reference of the ANN bucket: ``lsh_bucket(vec, planes) ->
    Column``, bit p = (vec . planes[p]) >= 0 (one band over all planes)."""
    return lambda vec, planes: _band_keys(vec, planes, 1)[0]


def _lod_cut_levels(samples, min_exponent, exponents=None):
    """``query.lod_cut`` in its per-level form: one anti-join per coarser
    exponent ``ea`` against the distinct ancestors, at ``ea``, of every
    finer sample (ancestors from ``cells.parent_coord``), then the union of
    the levels."""
    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.functions import cells as C

    s = samples.filter(F.col("e") >= F.lit(min_exponent))
    if exponents is not None:
        exps = sorted(e for e in set(exponents) if e >= min_exponent)
    else:
        exps = [r[0] for r in s.select("e").distinct().collect()]
    if len(exps) <= 1:
        return s
    out = None
    for ea in sorted(exps):
        level = s.filter(F.col("e") == ea)
        finer = [eb for eb in exps if eb < ea]
        if finer:
            shadows = (
                s.filter(F.col("e").isin(finer))
                .select(
                    C.parent_coord(F.col("cx"), (F.lit(ea) - F.col("e")).cast("int")).alias("acx"),
                    C.parent_coord(F.col("cy"), (F.lit(ea) - F.col("e")).cast("int")).alias("acy"),
                )
                .distinct()
            )
            level = level.join(
                shadows,
                (level["cx"] == shadows["acx"]) & (level["cy"] == shadows["acy"]),
                "left_anti",
            )
        out = level if out is None else out.unionByName(level)
    return out


@pytest.fixture(scope="session")
def lod_cut_levels():
    """The per-level reference of ``query.lod_cut`` (the package decides
    shadowing in one anti-join): ``lod_cut_levels(samples, min_exponent,
    exponents=None) -> DataFrame``."""
    return _lod_cut_levels


@pytest.fixture
def cuts():
    """Every ``boundary.cut`` made while the test runs, as (executed plan
    string of the cut's input, the cut frame); the cuts are still the
    default ``localCheckpoint``."""
    from aardvark_geometry_quadtree_spark import boundary

    made = []

    def record(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        out = boundary.local_boundary(df)
        made.append((plan, out))
        return out

    boundary.set_default_boundary(record)
    try:
        yield made
    finally:
        boundary.set_default_boundary(None)
