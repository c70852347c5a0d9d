"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2) over the driver's
parquet tables; ``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL. The
shared derivation is a deterministic geocode of the ``documents`` table into
quadtree sample cells (doc_id-arithmetic, identical in both engines):

    cx = (doc_id*73) % 997 - 498,  cy = (doc_id*179) % 991 - 495,  e = 0
    height = avg(n_chars) per cell, n_docs = count per cell

so quadtree build/merge/query semantics are oracle-checkable end-to-end.
All doubles are rounded to 6 decimals on output in BOTH engines; integer
keys are bigint in both. DuckDB notes: ``>>`` is an arithmetic shift (floor,
matches Spark shiftright); ``//`` truncates and is never used.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.functions import cells as C
from aardvark_geometry_quadtree_spark.operators import query as Q
from aardvark_geometry_quadtree_spark.operators.build import (
    build_tiles,
    pack_tiles,
    unpack_tiles,
)
from aardvark_geometry_quadtree_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    minhash_table,
    simhash64_table,
    word_shingles,
)
from aardvark_geometry_quadtree_spark.operators.blocks import (
    inside_box_blocks,
    inside_cell_blocks,
    inside_polygon_blocks,
    intersects_cell_blocks,
    near_line_blocks,
    knn_join_blocks,
    lod_cut_blocks,
    merge_blocks,
    merge_blocks_mixed,
    pack_blocks,
    sample_positions_blocks,
    pyramid_blocks,
    unpack_blocks,
)
from aardvark_geometry_quadtree_spark.operators.merge import Dominance, merge_samples
from aardvark_geometry_quadtree_spark.operators.multimodal import extract_features, synth_media
from aardvark_geometry_quadtree_spark.operators.pyramid import build_pyramid, downsample_once
from aardvark_geometry_quadtree_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    cosine,
    embedding_dup_pairs,
    hyperplanes,
)
from aardvark_geometry_quadtree_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _doc_samples(spark: SparkSession, sf_dir: str, source: str | None = None) -> DataFrame:
    d = _docs(spark, sf_dir)
    if source is not None:
        d = d.filter(F.col("source") == source)
    return (
        d.select(
            ((F.col("doc_id") * 73) % 997 - 498).cast("long").alias("cx"),
            ((F.col("doc_id") * 179) % 991 - 495).cast("long").alias("cy"),
            F.lit(0).cast("long").alias("e"),
            F.col("n_chars").cast("double").alias("tl"),
        )
        .groupBy("cx", "cy", "e")
        .agg(F.avg("tl").alias("height"), F.count("*").alias("n_docs"))
    )


def _doc_blocks(
    spark: SparkSession, sf_dir: str, source: str | None = None,
    bits: int = 4, with_counts: bool = True,
) -> DataFrame:
    """One-shuffle block staging for the block-path queries: geocoded doc
    points repartition by BLOCK key and a bincount kernel computes the
    per-cell means and packs the arrays in the same pass.

    Produces EXACTLY ``pack_blocks(_doc_samples(spark, sf_dir, source),
    bits)`` (guard-tested with exceptAll in both directions,
    tests/test_blocks.py): the per-cell mean is sum/count over
    integer-valued doubles (n_chars), so the sums
    are exact in float64 regardless of grouping order and the one-pass
    kernel's division equals the hash-aggregate's bitwise. The two-step
    form paid two Exchanges (cell-key aggregation, then block-key
    repartition) plus a second kernel; this is the r6 optimization that
    removes one Exchange and one pass from every block-path bench query
    (guide §2.4)."""
    from aardvark_geometry_quadtree_spark.sources.webpages import points_to_blocks

    d = _docs(spark, sf_dir)
    if source is not None:
        d = d.filter(F.col("source") == source)
    pts = d.select(
        ((F.col("doc_id") * 73) % 997 - 498).cast("long").alias("cx"),
        ((F.col("doc_id") * 179) % 991 - 495).cast("long").alias("cy"),
        F.col("n_chars").cast("double").alias("tl"),
    )
    return points_to_blocks(
        pts, e=0, bits=bits,
        mean_name="height", count_name="n_docs", include_counts=with_counts,
    )


_SAMPLES_SQL = """
  SELECT cx, cy, e, avg(tl) AS height, count(*) AS n_docs FROM (
    SELECT (doc_id*73) %% 997 - 498 AS cx,
           (doc_id*179) %% 991 - 495 AS cy,
           CAST(0 AS BIGINT) AS e,
           CAST(n_chars AS DOUBLE) AS tl
    FROM documents{where}) GROUP BY cx, cy, e
""".replace("%%", "%")


def _samples_sql(source: str | None = None) -> str:
    where = f" WHERE source = '{source}'" if source else ""
    return _SAMPLES_SQL.format(where=where)


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


_POLY = [(-300.3, -300.7), (300.1, -250.2), (250.4, 300.8), (-250.9, 250.1)]  # CCW convex
_PROBES = [(0, 10.5, 20.5), (1, -100.2, 50.9), (2, 498.4, 495.5), (3, 0.0, 0.0), (4, -498.0, -495.0)]
_N_PLANES = 6
_N_BANDS = 2
_EMB_DIM = 64


def _half_planes_sql(px: str, py: str) -> str:
    conds = []
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        conds.append(
            f"(({x2}-({x1}))*(({py})-({y1})) - ({y2}-({y1}))*(({px})-({x1})) >= 0)"
        )
    return " AND ".join(conds)


def _dot_sql(a: str, b: str, dim: int = _EMB_DIM) -> str:
    return (
        f"list_aggregate(list_transform(generate_series(1,{dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def _plane_lit(p: list[float]) -> str:
    return "[" + ",".join(str(v) for v in p) + "]"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_cell_encode(spark, sf_dir):
    """F2/S9: deterministic geocode -> cell encode -> per-cell aggregate."""
    return _r6(_doc_samples(spark, sf_dir), "height")


def q_tile_stats(spark, sf_dir):
    """S1/A4/A5: tile build at split=3 with exact bounding box + occupancy."""
    t = build_tiles(_doc_samples(spark, sf_dir).drop("n_docs"), split=3, layers=["height"])
    return t.select(
        F.col("tile_cx").cast("long").alias("tile_cx"),
        F.col("tile_cy").cast("long").alias("tile_cy"),
        F.col("tile_e").cast("long").alias("tile_e"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("ebb_min_cx").cast("long").alias("ebb_min_cx"),
        F.col("ebb_min_cy").cast("long").alias("ebb_min_cy"),
        F.col("ebb_max_cx").cast("long").alias("ebb_max_cx"),
        F.col("ebb_max_cy").cast("long").alias("ebb_max_cy"),
    )


def q_pyramid_l2(spark, sf_dir):
    """A1: two LoD levels of avg-of-avg downsampling."""
    s = _doc_samples(spark, sf_dir).drop("n_docs")
    l1 = downsample_once(s, ["height"])
    l2 = downsample_once(l1, ["height"])
    return _r6(l2.select(F.col("cx"), F.col("cy"), F.col("e").cast("long").alias("e"), "height"), "height")


def q_pyramid_types(spark, sf_dir):
    """A1 per-type resamplers: one downsample level over int (truncating /4),
    byte-color incl. alpha (truncating /4), and normal (mean + re-normalize)
    layers — Sampling.fs:18-74 parity, one typed cell per document."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    base = d.select(
        (did % 64).alias("cx"),
        F.shiftright(did, 6).alias("cy"),
        F.lit(0).cast("int").alias("e"),
        F.col("n_chars").cast("int").alias("Intensities1i"),
        F.array(
            (did % 256).cast("int"),
            ((did * 7) % 256).cast("int"),
            ((did * 13) % 256).cast("int"),
            ((did * 31) % 256).cast("int"),
        ).alias("Colors4b"),
        F.array(F.lit(1.0), (did % 5).cast("double"), ((did % 3) + 1).cast("double")).alias(
            "Normals3d"
        ),
    )
    lvl = downsample_once(base, ["Intensities1i", "Colors4b", "Normals3d"])
    return lvl.select(
        "cx",
        "cy",
        F.col("e").cast("long").alias("e"),
        F.col("Intensities1i").alias("intensity"),
        F.element_at("Colors4b", 1).alias("cr"),
        F.element_at("Colors4b", 2).alias("cg"),
        F.element_at("Colors4b", 3).alias("cb"),
        F.element_at("Colors4b", 4).alias("ca"),
        F.round(F.element_at("Normals3d", 1), 6).alias("nx"),
        F.round(F.element_at("Normals3d", 2), 6).alias("ny"),
        F.round(F.element_at("Normals3d", 3), 6).alias("nz"),
    )


def q_tile_payload(spark, sf_dir):
    """S3 packed-tile payload roundtrip (Serialization.fs:318-335 parity):
    samples -> packed array-per-tile rows (applyInPandas kernel, per-layer
    masks) -> unpack (JVM posexplode) must be the identity."""
    s = _doc_samples(spark, sf_dir).drop("n_docs")
    packed = pack_tiles(s, split=3, layers=["height"])
    back = unpack_tiles(packed, ["height"])
    return _r6(back.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height")


def q_inside_box(spark, sf_dir):
    """J6: InsideBox via the per-exponent integer-bounds rewrite (the
    scan-pushable form; over a saved store these bounds land in parquet
    PushedFilters — BENCH/PLANS.md)."""
    s = _doc_samples(spark, sf_dir)
    return _r6(Q.inside_box_pushdown(s, -50.0, -80.0, 120.0, 60.0, exponents=[0]), "height")


def q_inside_cell(spark, sf_dir):
    """J4: InsideCell containment (query cell (−2,−2,7) covers [-256,-128)^2)."""
    s = _doc_samples(spark, sf_dir)
    return _r6(Q.inside_cell(s, -2, -2, 7), "height")


def q_intersects_cell(spark, sf_dir):
    """J5: IntersectsCell incl. supersampling fallback — the query cell is
    finer than the data, so the coarser containing sample is returned
    (doc_id=0 geocodes to (-498,-495,0); query is a depth-2 child of it)."""
    s = _doc_samples(spark, sf_dir)
    return _r6(Q.intersects_cell(s, -1991, -1978, -2), "height")


def q_inside_polygon(spark, sf_dir):
    """J7: point-in-polygon join (convex CCW polygon, plan-time expression)."""
    s = _doc_samples(spark, sf_dir)
    return _r6(Q.inside_polygon(s, _POLY), "height")


def q_near_line(spark, sf_dir):
    """J8: NearLine cross-product distance predicate."""
    s = _doc_samples(spark, sf_dir)
    return _r6(Q.near_line(s, 0.0, 0.0, 0.6, 0.8, 25.0), "height")


def q_point_lookup(spark, sf_dir):
    """J9: Sample.Positions point-lookup join."""
    s = _doc_samples(spark, sf_dir)
    pos = spark.createDataFrame(_PROBES, "pid long, px double, py double")
    r = Q.sample_positions(s, pos)
    return _r6(r.select("pid", "cx", "cy", "e", "height", "n_docs"), "height")


def q_knn(spark, sf_dir):
    """J9+: kNN via cell-ring expansion, exact top-10 by center distance."""
    s = _doc_samples(spark, sf_dir).drop("n_docs")
    r = Q.knn(s, 0.0, 0.0, 10, ring_exponent=4)
    return _r6(r.select("cx", "cy", "e", "height", "dist"), "height", "dist")


def q_knn_batch(spark, sf_dir):
    """J9+ batched: k nearest samples for EVERY probe via ring-keyed
    equi-joins + per-probe top-k windows (set-oriented; driver loop only
    over radii). Same tie-break as q_knn."""
    s = _doc_samples(spark, sf_dir).drop("n_docs")
    pos = spark.createDataFrame(_PROBES, "pid long, px double, py double")
    r = Q.knn_join(s, pos, k=10, ring_exponent=4, start_radius=4)
    return _r6(
        r.select("pid", "cx", "cy", F.col("e").cast("long").alias("e"), "height", "dist"),
        "height", "dist",
    )


def q_merge_dominance(spark, sf_dir):
    """M1 same-resolution: FirstDominates winner per cell across two patches."""
    p1 = _doc_samples(spark, sf_dir, "src0")
    p2 = _doc_samples(spark, sf_dir, "src1")
    m = merge_samples(
        p1,
        p2,
        Dominance.FirstDominates,
        layers=["height", "n_docs"],
        first_exponents=[0],
        second_exponents=[0],  # hint -> same-exponent winner-agg fast path
    )
    return _r6(m, "height")


def q_merge_mixed_res(spark, sf_dir):
    """M1+J11: mixed-resolution merge — fine e0 patch dominates a coarse e1
    patch; partially-covered coarse cells fragment into uncovered children."""
    fine = _doc_samples(spark, sf_dir, "src0").drop("n_docs")
    coarse = downsample_once(_doc_samples(spark, sf_dir, "src1").drop("n_docs"), ["height"])
    m = merge_samples(
        coarse,
        fine,
        Dominance.MoreDetailedOrFirst,
        layers=["height"],
        first_exponents=[1],
        second_exponents=[0],  # hint skips the exponent discovery job
    )
    return _r6(m.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height")


def q_point_lookup_blocks(spark, sf_dir):
    """J9 via the block path (operators/blocks.py sample_positions_blocks):
    probes equi-join block rows by key and read the probed cell with JVM
    element_at — no unpack explode. Same oracle as q_point_lookup."""
    pos = spark.createDataFrame(_PROBES, "pid long, px double, py double")
    r = sample_positions_blocks(
        _doc_blocks(spark, sf_dir), pos, bits=4, exponents=[0],
        layer_types={"height": "double", "n_docs": "bigint"},
    )
    return _r6(r.select("pid", "cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"), "height")


def q_knn_batch_blocks(spark, sf_dir):
    """J9+ batched kNN over the BLOCK staging table: ring-keyed join at
    block granularity, unpacking only matched blocks per round. Same
    oracle as q_knn_batch."""
    pos = spark.createDataFrame(_PROBES, "pid long, px double, py double")
    r = knn_join_blocks(
        _doc_blocks(spark, sf_dir, with_counts=False), pos, k=10, bits=4,
        layer_types={"height": "double"}, start_radius=4,
    )
    return _r6(
        r.select("pid", "cx", "cy", F.col("e").cast("long").alias("e"), "height", "dist"),
        "height", "dist",
    )


def q_merge_blocks_mixed(spark, sf_dir):
    """M1+J11 via the BLOCK-RASTER path (operators/blocks.py
    merge_blocks_mixed): cross-exponent anchor-grouped kernel merge — the
    scale engine's mixed-resolution path. Same semantics as
    q_merge_mixed_res through a disjoint execution path, checked against
    the same oracle (fine e0 beats coarse e1; partially-covered coarse
    cells re-emerge as minimal uncovered fragments)."""
    coarse = downsample_once(_doc_samples(spark, sf_dir, "src1").drop("n_docs"), ["height"])
    m = merge_blocks_mixed(
        pack_blocks(coarse, bits=4),
        _doc_blocks(spark, sf_dir, "src0", with_counts=False),
        Dominance.MoreDetailedOrFirst,
        first_exponents=[1],
        second_exponents=[0],
    )
    u = unpack_blocks(m, layer_types={"height": "double"})
    return _r6(u.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height")


def q_merge_blocks(spark, sf_dir):
    """M1 via the BLOCK-RASTER path (operators/blocks.py): aligned-array
    numpy winner kernel + co-partitionable join — the exchange-free scale
    merge. Same semantics as q_merge_dominance through a disjoint execution
    path, checked against the same oracle."""
    m = merge_blocks(
        _doc_blocks(spark, sf_dir, "src0"), _doc_blocks(spark, sf_dir, "src1"), "first"
    )
    u = unpack_blocks(m, layer_types={"height": "double", "n_docs": "bigint"})
    return _r6(
        u.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_pyramid_blocks(spark, sf_dir):
    """A1 via the block-local pyramid (zero-shuffle mapInPandas rollup);
    level-2 output equals the per-level Catalyst pyramid's, checked against
    the same avg-of-avg oracle as q_pyramid_l2."""
    pyr = pyramid_blocks(_doc_blocks(spark, sf_dir, with_counts=False), levels=2)
    u = unpack_blocks(pyr.filter(F.col("e") == 2), layers=["height"])
    return _r6(
        u.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height"
    )


def q_box_blocks(spark, sf_dir):
    """J6 via the block path: block-bbox prune + exact position predicate
    over unpacked cells; same oracle as q_inside_box."""
    cells = inside_box_blocks(_doc_blocks(spark, sf_dir), -50.0, -80.0, 120.0, 60.0)
    return _r6(
        cells.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_polygon_blocks(spark, sf_dir):
    """J7 via the block path: block-bbox prune (scan-prunable Catalyst
    filter) + codegen winding test over unpacked cells; same oracle as
    q_inside_polygon."""
    cells = inside_polygon_blocks(_doc_blocks(spark, sf_dir), _POLY)
    return _r6(
        cells.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_near_line_blocks(spark, sf_dir):
    """J8 via the block path: whole-block band prune (all four block
    corners on one side — plain Catalyst filter on the block key) + exact
    codegen distance on unpacked survivors; same oracle as q_near_line."""
    cells = near_line_blocks(_doc_blocks(spark, sf_dir), 0.0, 0.0, 0.6, 0.8, 25.0)
    return _r6(
        cells.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_inside_cell_blocks(spark, sf_dir):
    """J4 via the block path: block-extent-vs-query-cell prune + e <= qe,
    then the exact integer containment predicate; same oracle as
    q_inside_cell."""
    cells = inside_cell_blocks(_doc_blocks(spark, sf_dir), -2, -2, 7)
    return _r6(
        cells.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_intersects_cell_blocks(spark, sf_dir):
    """J5 via the block path incl. the supersampling fallback (query cell
    finer than the data: the coarser containing sample's block survives
    the extent prune); same oracle as q_intersects_cell."""
    cells = intersects_cell_blocks(_doc_blocks(spark, sf_dir), -1991, -1978, -2)
    return _r6(
        cells.select("cx", "cy", F.col("e").cast("long").alias("e"), "height", "n_docs"),
        "height",
    )


def q_lod_cut_blocks(spark, sf_dir):
    """J3+MinExponent via the BLOCK path (operators/blocks.py
    lod_cut_blocks): world-anchored shadowing kernel over a mixed-width
    block pyramid. Same oracle as q_lod_cut."""
    pyr = pyramid_blocks(
        _doc_blocks(spark, sf_dir, "src2", with_counts=False), levels=1, include_base=True
    )
    cut = lod_cut_blocks(pyr, 0, exponents=[0, 1])
    u = unpack_blocks(cut, layer_types={"height": "double"})
    return _r6(u.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height")


def q_lod_cut(spark, sf_dir):
    """J3 + MinExponent: per-location finest level of a 2-level pyramid."""
    s = _doc_samples(spark, sf_dir, "src2").drop("n_docs")
    pyr = build_pyramid(s, levels=1, layers=["height"])
    cut = Q.lod_cut(pyr, 0, exponents=[0, 1])  # hint skips the discovery job
    return _r6(cut.select("cx", "cy", F.col("e").cast("long").alias("e"), "height"), "height")


def q_ebb_stats(spark, sf_dir):
    """A3/A4: global exact-bounding-box and occupancy statistics."""
    s = _doc_samples(spark, sf_dir)
    return s.agg(
        F.count("*").alias("n_cells"),
        F.sum("n_docs").alias("n_docs"),
        F.min("cx").alias("ebb_min_cx"),
        F.min("cy").alias("ebb_min_cy"),
        (F.max("cx") + 1).alias("ebb_max_cx"),
        (F.max("cy") + 1).alias("ebb_max_cy"),
        F.round(F.avg("height"), 6).alias("mean_height"),
    )


def q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_quality(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer '03: rolling k-gram hash,
    window-min, distinct) — exploded to (doc_id, fp) rows for the oracle."""
    from aardvark_geometry_quadtree_spark.operators.textstats import winnow_fingerprints

    fps = winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)
    return fps.select("doc_id", F.explode("fingerprints").alias("fp"))


def q_exact_dups(spark, sf_dir):
    """Exact dedup over the corpus plus a deterministic re-crawl copy
    (ids shifted by 10^6) — every text becomes a duplicate group."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return exact_duplicates(d.unionByName(recrawl))


def q_minhash(spark, sf_dir):
    mh = minhash_table(_docs(spark, sf_dir), "doc_id", "text", k=4)
    return mh.select("doc_id", "mh_0", "mh_1", "mh_2", "mh_3")


def q_lsh_pairs(spark, sf_dir):
    return lsh_candidate_pairs(_docs(spark, sf_dir), k=8, bands=4)


def q_jaccard_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cand = lsh_candidate_pairs(d, k=8, bands=4)
    return ngram_jaccard_pairs(d, cand, threshold=0.0)


def q_simhash(spark, sf_dir):
    """64-bit SimHash as 4x16-bit band words + canonical hex (Charikar '02;
    one explode + one hash agg, not 64 per-bit aggregates)."""
    t = simhash64_table(_docs(spark, sf_dir))
    return t.select("doc_id", "sh0", "sh1", "sh2", "sh3", "simhash_hex")


def _query_vec(spark, sf_dir) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(v) for v in row[0]]


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding."""
    return brute_force_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


def q_ann_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN top-10 (ring probe, Hamming<=1)."""
    return ann_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10, n_planes=_N_PLANES)


def q_embed_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs: BANDED sign-LSH candidates (2 bands x
    6 planes here; 4 x 16 at corpus scale), exact-cosine verify."""
    return embedding_dup_pairs(
        _emb(spark, sf_dir), threshold=0.35, n_planes=_N_PLANES, bands=_N_BANDS
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: synth media -> mapInPandas feature extraction
    (stub decoder, deterministic in payload bytes)."""
    m = extract_features(synth_media(spark, 200), fake=True)
    cols = [F.round(F.element_at("feat", i + 1), 6).alias(f"f{i}") for i in range(8)]
    return m.select("media_id", "n_bytes", *cols)


def q_stream_windowed(spark, sf_dir):
    """F9+ streaming: watermarked event-time window aggregation per cell,
    run as an availableNow single-batch pass over the events table (file
    source -> withWatermark -> window groupBy -> append-mode memory sink).
    Deterministic: one batch means the final watermark is max(ts) - delay,
    and exactly the windows closed by it are emitted — which is what the
    SQL oracle computes."""
    import tempfile
    import uuid

    from aardvark_geometry_quadtree_spark.streaming.events_stream import windowed_cell_counts

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the table is a single parquet file; the streaming file source wants a
    # directory, so stream the parent with a glob pinned to the events table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"winq_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_cell_counts(stream, "15 minutes", "1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="qt_stream_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        F.col("win_start").cast("long").alias("win_start_epoch"),
        "cx",
        "cy",
        F.col("e").cast("long").alias("e"),
        "n_events",
        "avg_value",
    )


def q_webpages_ingest(spark, sf_dir):
    """Graft ingest (no oracle: xxhash64 geocode): synth web pages -> geocode
    -> samples; returns per-cell tile assignment at split=4."""
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode,
        pages_to_samples,
        synth_webpages,
    )

    pages = synth_webpages(spark, 20_000, nsites=200, skew=1.5)
    s = pages_to_samples(geocode(pages, extent=1024.0), e=0)
    return build_tiles(s.drop("n_pages"), split=4, layers=["height"])


def q_text_identity(spark, sf_dir):
    """input_hint invariant: byte-identical text per url between the raw
    pages and an html-roundtrip pipeline (no oracle: xxhash64 synth)."""
    from aardvark_geometry_quadtree_spark.sources.webpages import synth_webpages, text_hash_check

    pages = synth_webpages(spark, 5_000, nsites=100)
    rt = pages.withColumn(
        "text",
        F.regexp_replace(F.decode("html", "utf-8"), r"</?(html|body)>", ""),
    )
    n_bad = text_hash_check(pages, rt)
    return spark.createDataFrame([(n_bad,)], "n_text_mismatches long")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on sf0.001 — geocode -> merge two sources with
    dominance -> LoD pyramid -> polygon query over the merged multi-level set."""
    sf_dir = "/root/testdata/sf0.001"
    p1 = _doc_samples(spark, sf_dir, "src0")
    p2 = _doc_samples(spark, sf_dir, "src1")
    m = merge_samples(p1, p2, Dominance.FirstDominates, layers=["height", "n_docs"])
    pyr = build_pyramid(m.drop("n_docs"), levels=2, layers=["height"])
    return Q.inside_polygon(Q.lod_cut(pyr, 0), _POLY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cell_encode": q_cell_encode,
        "tile_stats": q_tile_stats,
        "pyramid_l2": q_pyramid_l2,
        "pyramid_types": q_pyramid_types,
        "tile_payload": q_tile_payload,
        "inside_box": q_inside_box,
        "inside_cell": q_inside_cell,
        "intersects_cell": q_intersects_cell,
        "inside_polygon": q_inside_polygon,
        "near_line": q_near_line,
        "point_lookup": q_point_lookup,
        "knn": q_knn,
        "knn_batch": q_knn_batch,
        "merge_dominance": q_merge_dominance,
        "merge_blocks": q_merge_blocks,
        "pyramid_blocks": q_pyramid_blocks,
        "polygon_blocks": q_polygon_blocks,
        "near_line_blocks": q_near_line_blocks,
        "inside_cell_blocks": q_inside_cell_blocks,
        "intersects_cell_blocks": q_intersects_cell_blocks,
        "box_blocks": q_box_blocks,
        "merge_mixed_res": q_merge_mixed_res,
        "merge_blocks_mixed": q_merge_blocks_mixed,
        "point_lookup_blocks": q_point_lookup_blocks,
        "knn_batch_blocks": q_knn_batch_blocks,
        "lod_cut_blocks": q_lod_cut_blocks,
        "lod_cut": q_lod_cut,
        "ebb_stats": q_ebb_stats,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "fingerprint": q_fingerprint,
        "winnow": q_winnow,
        "exact_dups": q_exact_dups,
        "minhash": q_minhash,
        "lsh_pairs": q_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "embed_dups": q_embed_dups,
        "multimodal_features": q_multimodal_features,
        "stream_windowed": q_stream_windowed,
        "webpages_ingest": q_webpages_ingest,
        "text_identity": q_text_identity,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    S = _samples_sql()
    S0 = _samples_sql("src0")
    S1 = _samples_sql("src1")
    S2 = _samples_sql("src2")
    probes = ", ".join(f"({p}, CAST({x} AS DOUBLE), CAST({y} AS DOUBLE))" for p, x, y in _PROBES)
    planes = hyperplanes(_EMB_DIM, _N_PLANES)
    bucket_sql = " + ".join(
        f"(CASE WHEN {_dot_sql('embedding', _plane_lit(planes[p]))} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_N_PLANES)
    )
    band_planes = hyperplanes(_EMB_DIM, _N_BANDS * _N_PLANES)
    band_keys_sql = [
        " + ".join(
            f"(CASE WHEN {_dot_sql('embedding', _plane_lit(band_planes[b * _N_PLANES + j]))} >= 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(_N_PLANES)
        )
        for b in range(_N_BANDS)
    ]
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band, ({k}) AS key FROM embeddings"
        for b, k in enumerate(band_keys_sql)
    )
    sh = (
        "CASE WHEN len(trim(text)) = 0 THEN [trim(text)] "
        "WHEN len(string_split_regex(trim(text), '\\s+')) < 3 "
        "THEN [array_to_string(string_split_regex(trim(text), '\\s+'), ' ')] "
        "ELSE list_transform(generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2), "
        "i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')) END"
    )

    def mh(i: int) -> str:
        return f"list_aggregate(list_transform(sh, s -> md5(s || '#{i}')), 'min')"

    occurrences = (
        lambda txt, sub: f"CAST((len({txt}) - len(replace({txt}, '{sub}', ''))) / {len(sub)} AS BIGINT)"
    )
    padded = "(' ' || lower(text) || ' ')"
    lang_sql_scores = {
        lang: " + ".join(occurrences(padded, m) for m in ms)
        for lang, ms in {
            "en": [" the ", " and ", " of "],
            "de": [" der ", " und ", " die "],
            "fr": [" le ", " et ", " les "],
            "es": [" el ", " y ", " los "],
        }.items()
    }

    return {
        "cell_encode": f"SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})",
        "tile_stats": f"""
            SELECT cx >> 3 AS tile_cx, cy >> 3 AS tile_cy, CAST(3 AS BIGINT) AS tile_e,
                   count(*) AS n_samples,
                   min(cx) AS ebb_min_cx, min(cy) AS ebb_min_cy,
                   max(cx) + 1 AS ebb_max_cx, max(cy) + 1 AS ebb_max_cy
            FROM ({S}) GROUP BY 1, 2, 3
        """,
        "pyramid_l2": f"""
            WITH l0 AS ({S}),
            l1 AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                   FROM l0 GROUP BY 1, 2, 3)
            SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(2 AS BIGINT) AS e, round(avg(height), 6) AS height
            FROM l1 GROUP BY 1, 2, 3
        """,
        "pyramid_types": """
            WITH base AS (
                SELECT doc_id % 64 AS cx, doc_id >> 6 AS cy,
                       CAST(n_chars AS BIGINT) AS i,
                       doc_id % 256 AS r, (doc_id*7) % 256 AS g,
                       (doc_id*13) % 256 AS b, (doc_id*31) % 256 AS a,
                       1.0 AS nx0, CAST(doc_id % 5 AS DOUBLE) AS ny0,
                       CAST(doc_id % 3 + 1 AS DOUBLE) AS nz0
                FROM documents),
            agg AS (
                SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e,
                       CAST(trunc(CAST(sum(i) AS DOUBLE) / count(*)) AS BIGINT) AS intensity,
                       CAST(trunc(CAST(sum(r) AS DOUBLE) / count(*)) AS INT) AS cr,
                       CAST(trunc(CAST(sum(g) AS DOUBLE) / count(*)) AS INT) AS cg,
                       CAST(trunc(CAST(sum(b) AS DOUBLE) / count(*)) AS INT) AS cb,
                       CAST(trunc(CAST(sum(a) AS DOUBLE) / count(*)) AS INT) AS ca,
                       avg(nx0) AS mx, avg(ny0) AS my, avg(nz0) AS mz
                FROM base GROUP BY 1, 2)
            SELECT cx, cy, e, intensity, cr, cg, cb, ca,
                   round(mx / sqrt(mx*mx + my*my + mz*mz), 6) AS nx,
                   round(my / sqrt(mx*mx + my*my + mz*mz), 6) AS ny,
                   round(mz / sqrt(mx*mx + my*my + mz*mz), 6) AS nz
            FROM agg
        """,
        "tile_payload": f"SELECT cx, cy, e, round(height, 6) AS height FROM ({S})",
        "inside_box": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE cx + 0.5 >= -50 AND cx + 0.5 <= 120 AND cy + 0.5 >= -80 AND cy + 0.5 <= 60
        """,
        "inside_cell": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE (cx >> 7) = -2 AND (cy >> 7) = -2
        """,
        "intersects_cell": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE cx = (-1991 >> 2) AND cy = (-1978 >> 2)
        """,
        "inside_polygon": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE {_half_planes_sql('cx + 0.5', 'cy + 0.5')}
        """,
        "near_line": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE abs(0.6 * (cy + 0.5 - 0.0) - 0.8 * (cx + 0.5 - 0.0)) <= 25.0
        """,
        "near_line_blocks": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE abs(0.6 * (cy + 0.5 - 0.0) - 0.8 * (cx + 0.5 - 0.0)) <= 25.0
        """,
        "inside_cell_blocks": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE (cx >> 7) = -2 AND (cy >> 7) = -2
        """,
        "intersects_cell_blocks": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE cx = (-1991 >> 2) AND cy = (-1978 >> 2)
        """,
        "point_lookup": f"""
            WITH s AS ({S}), p(pid, px, py) AS (VALUES {probes})
            SELECT p.pid, s.cx, s.cy, s.e, round(s.height, 6) AS height, s.n_docs
            FROM p JOIN s ON s.cx = CAST(floor(p.px) AS BIGINT) AND s.cy = CAST(floor(p.py) AS BIGINT)
        """,
"point_lookup_blocks": f"""
            WITH s AS ({S}), p(pid, px, py) AS (VALUES {probes})
            SELECT p.pid, s.cx, s.cy, s.e, round(s.height, 6) AS height, s.n_docs
            FROM p JOIN s ON s.cx = CAST(floor(p.px) AS BIGINT) AND s.cy = CAST(floor(p.py) AS BIGINT)
        """,
        "knn": f"""
            SELECT cx, cy, e, round(height, 6) AS height,
                   round(sqrt((cx + 0.5) * (cx + 0.5) + (cy + 0.5) * (cy + 0.5)), 6) AS dist
            FROM ({S})
            ORDER BY sqrt((cx + 0.5) * (cx + 0.5) + (cy + 0.5) * (cy + 0.5)), cx, cy
            LIMIT 10
        """,
        "knn_batch": f"""
            WITH s AS ({S}), p(pid, px, py) AS (VALUES {probes}),
            scored AS (
                SELECT p.pid, s.cx, s.cy, s.e, s.height,
                       sqrt(power(s.cx + 0.5 - p.px, 2) + power(s.cy + 0.5 - p.py, 2)) AS dist,
                       row_number() OVER (
                           PARTITION BY p.pid
                           ORDER BY sqrt(power(s.cx + 0.5 - p.px, 2) + power(s.cy + 0.5 - p.py, 2)), s.cx, s.cy
                       ) AS rn
                FROM p CROSS JOIN s)
            SELECT pid, cx, cy, e, round(height, 6) AS height, round(dist, 6) AS dist
            FROM scored WHERE rn <= 10
        """,
"knn_batch_blocks": f"""
            WITH s AS ({S}), p(pid, px, py) AS (VALUES {probes}),
            scored AS (
                SELECT p.pid, s.cx, s.cy, s.e, s.height,
                       sqrt(power(s.cx + 0.5 - p.px, 2) + power(s.cy + 0.5 - p.py, 2)) AS dist,
                       row_number() OVER (
                           PARTITION BY p.pid
                           ORDER BY sqrt(power(s.cx + 0.5 - p.px, 2) + power(s.cy + 0.5 - p.py, 2)), s.cx, s.cy
                       ) AS rn
                FROM p CROSS JOIN s)
            SELECT pid, cx, cy, e, round(height, 6) AS height, round(dist, 6) AS dist
            FROM scored WHERE rn <= 10
        """,
        "merge_dominance": f"""
            WITH p1 AS ({S0}), p2 AS ({S1})
            SELECT coalesce(p1.cx, p2.cx) AS cx, coalesce(p1.cy, p2.cy) AS cy,
                   coalesce(p1.e, p2.e) AS e,
                   round(coalesce(p1.height, p2.height), 6) AS height,
                   coalesce(p1.n_docs, p2.n_docs) AS n_docs
            FROM p1 FULL OUTER JOIN p2 ON p1.cx = p2.cx AND p1.cy = p2.cy AND p1.e = p2.e
        """,
        # block path must land on the exact same result as the sample path
        "merge_blocks": f"""
            WITH p1 AS ({S0}), p2 AS ({S1})
            SELECT coalesce(p1.cx, p2.cx) AS cx, coalesce(p1.cy, p2.cy) AS cy,
                   coalesce(p1.e, p2.e) AS e,
                   round(coalesce(p1.height, p2.height), 6) AS height,
                   coalesce(p1.n_docs, p2.n_docs) AS n_docs
            FROM p1 FULL OUTER JOIN p2 ON p1.cx = p2.cx AND p1.cy = p2.cy AND p1.e = p2.e
        """,
        "pyramid_blocks": f"""
            WITH l0 AS ({S}),
            l1 AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                   FROM l0 GROUP BY 1, 2, 3)
            SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(2 AS BIGINT) AS e, round(avg(height), 6) AS height
            FROM l1 GROUP BY 1, 2, 3
        """,
        "polygon_blocks": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE {_half_planes_sql('cx + 0.5', 'cy + 0.5')}
        """,
        "box_blocks": f"""
            SELECT cx, cy, e, round(height, 6) AS height, n_docs FROM ({S})
            WHERE cx + 0.5 >= -50 AND cx + 0.5 <= 120 AND cy + 0.5 >= -80 AND cy + 0.5 <= 60
        """,
        "merge_mixed_res": f"""
            WITH fine AS (SELECT cx, cy, e, height FROM ({S0})),
            base1 AS (SELECT cx, cy, e, height FROM ({S1})),
            coarse AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                       FROM base1 GROUP BY 1, 2, 3),
            hit AS (SELECT c.* FROM coarse c WHERE EXISTS
                     (SELECT 1 FROM fine f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy)),
            clear AS (SELECT c.* FROM coarse c WHERE NOT EXISTS
                     (SELECT 1 FROM fine f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy)),
            frag AS (
                SELECT c.cx * 2 + (q.q % 2) AS cx, c.cy * 2 + (q.q >> 1) AS cy,
                       CAST(0 AS BIGINT) AS e, c.height
                FROM hit c, (VALUES (0), (1), (2), (3)) q(q)
                WHERE NOT EXISTS (SELECT 1 FROM fine f
                                  WHERE f.cx = c.cx * 2 + (q.q % 2) AND f.cy = c.cy * 2 + (q.q >> 1))
            )
            SELECT cx, cy, e, round(height, 6) AS height FROM fine
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM clear
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM frag
        """,
"merge_blocks_mixed": f"""
            WITH fine AS (SELECT cx, cy, e, height FROM ({S0})),
            base1 AS (SELECT cx, cy, e, height FROM ({S1})),
            coarse AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                       FROM base1 GROUP BY 1, 2, 3),
            hit AS (SELECT c.* FROM coarse c WHERE EXISTS
                     (SELECT 1 FROM fine f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy)),
            clear AS (SELECT c.* FROM coarse c WHERE NOT EXISTS
                     (SELECT 1 FROM fine f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy)),
            frag AS (
                SELECT c.cx * 2 + (q.q % 2) AS cx, c.cy * 2 + (q.q >> 1) AS cy,
                       CAST(0 AS BIGINT) AS e, c.height
                FROM hit c, (VALUES (0), (1), (2), (3)) q(q)
                WHERE NOT EXISTS (SELECT 1 FROM fine f
                                  WHERE f.cx = c.cx * 2 + (q.q % 2) AND f.cy = c.cy * 2 + (q.q >> 1))
            )
            SELECT cx, cy, e, round(height, 6) AS height FROM fine
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM clear
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM frag
        """,
        "lod_cut": f"""
            WITH l0 AS (SELECT cx, cy, e, height FROM ({S2})),
            l1 AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                   FROM l0 GROUP BY 1, 2, 3),
            keep1 AS (SELECT c.* FROM l1 c WHERE NOT EXISTS
                      (SELECT 1 FROM l0 f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy))
            SELECT cx, cy, e, round(height, 6) AS height FROM l0
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM keep1
        """,
"lod_cut_blocks": f"""
            WITH l0 AS (SELECT cx, cy, e, height FROM ({S2})),
            l1 AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, CAST(1 AS BIGINT) AS e, avg(height) AS height
                   FROM l0 GROUP BY 1, 2, 3),
            keep1 AS (SELECT c.* FROM l1 c WHERE NOT EXISTS
                      (SELECT 1 FROM l0 f WHERE (f.cx >> 1) = c.cx AND (f.cy >> 1) = c.cy))
            SELECT cx, cy, e, round(height, 6) AS height FROM l0
            UNION ALL SELECT cx, cy, e, round(height, 6) FROM keep1
        """,
        "ebb_stats": f"""
            SELECT count(*) AS n_cells, CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   min(cx) AS ebb_min_cx, min(cy) AS ebb_min_cy,
                   max(cx) + 1 AS ebb_max_cx, max(cy) + 1 AS ebb_max_cy,
                   round(avg(height), 6) AS mean_height
            FROM ({S})
        """,
        "token_count": """
            SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id, CASE
                WHEN ({lang_sql_scores['en']}) + ({lang_sql_scores['de']})
                   + ({lang_sql_scores['fr']}) + ({lang_sql_scores['es']}) = 0 THEN 'und'
                WHEN ({lang_sql_scores['de']}) > ({lang_sql_scores['en']})
                 AND ({lang_sql_scores['de']}) >= ({lang_sql_scores['fr']})
                 AND ({lang_sql_scores['de']}) >= ({lang_sql_scores['es']}) THEN 'de'
                WHEN ({lang_sql_scores['fr']}) > ({lang_sql_scores['en']})
                 AND ({lang_sql_scores['fr']}) > ({lang_sql_scores['de']})
                 AND ({lang_sql_scores['fr']}) >= ({lang_sql_scores['es']}) THEN 'fr'
                WHEN ({lang_sql_scores['es']}) > ({lang_sql_scores['en']})
                 AND ({lang_sql_scores['es']}) > ({lang_sql_scores['de']})
                 AND ({lang_sql_scores['es']}) > ({lang_sql_scores['fr']}) THEN 'es'
                ELSE 'en' END AS lang_pred
            FROM documents
        """,
        "quality": """
            SELECT doc_id, CAST(round(
                least(len(text) / 500.0, 1.0) * 0.6 +
                (1.0 - least(abs(CASE WHEN len(text) > 0
                     THEN CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) / len(text)
                     ELSE 0.0 END - 0.16) * 4.0, 1.0)) * 0.4, 6) AS DOUBLE) AS quality
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "winnow": """
            WITH d AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM documents),
            ex AS (
                SELECT doc_id, t, len(t) - 4 AS ngrams,
                       unnest(generate_series(1, len(t) - 4)) AS pos
                FROM d WHERE len(t) >= 5),
            g AS (
                SELECT doc_id, pos, ngrams,
                       ('0x' || substr(md5(substring(t, pos, 5)), 1, 12))::BIGINT AS h
                FROM ex),
            m AS (
                SELECT doc_id, pos, ngrams,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM g),
            u AS (
                SELECT doc_id, fp FROM m WHERE pos <= ngrams - 3
                UNION ALL
                SELECT doc_id, min(h) AS fp FROM g WHERE ngrams < 4 GROUP BY doc_id)
            SELECT DISTINCT doc_id, fp FROM u
        """,
        "exact_dups": """
            WITH u AS (SELECT doc_id, text FROM documents
                       UNION ALL SELECT doc_id + 1000000, text FROM documents)
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM u GROUP BY 1 HAVING count(*) > 1
        """,
        "minhash": f"""
            WITH t AS (SELECT doc_id, {sh} AS sh FROM documents)
            SELECT doc_id, {mh(0)} AS mh_0, {mh(1)} AS mh_1, {mh(2)} AS mh_2, {mh(3)} AS mh_3
            FROM t
        """,
        "lsh_pairs": f"""
            WITH t AS (SELECT doc_id, {sh} AS sh FROM documents),
            m AS (SELECT doc_id, {mh(0)} AS mh_0, {mh(1)} AS mh_1, {mh(2)} AS mh_2, {mh(3)} AS mh_3,
                         {mh(4)} AS mh_4, {mh(5)} AS mh_5, {mh(6)} AS mh_6, {mh(7)} AS mh_7 FROM t),
            k AS (
                SELECT doc_id AS id, md5(mh_0 || '|' || mh_1) AS band_key FROM m
                UNION ALL SELECT doc_id, md5(mh_2 || '|' || mh_3) FROM m
                UNION ALL SELECT doc_id, md5(mh_4 || '|' || mh_5) FROM m
                UNION ALL SELECT doc_id, md5(mh_6 || '|' || mh_7) FROM m)
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM k a JOIN k b ON a.band_key = b.band_key AND a.id < b.id
        """,
        "jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, list_distinct({sh}) AS sh FROM documents),
            m AS (SELECT doc_id, {mh(0).replace('sh', 'sh')} AS mh_0, {mh(1)} AS mh_1,
                         {mh(2)} AS mh_2, {mh(3)} AS mh_3,
                         {mh(4)} AS mh_4, {mh(5)} AS mh_5, {mh(6)} AS mh_6, {mh(7)} AS mh_7
                  FROM (SELECT doc_id, {sh} AS sh FROM documents)),
            k AS (
                SELECT doc_id AS id, md5(mh_0 || '|' || mh_1) AS band_key FROM m
                UNION ALL SELECT doc_id, md5(mh_2 || '|' || mh_3) FROM m
                UNION ALL SELECT doc_id, md5(mh_4 || '|' || mh_5) FROM m
                UNION ALL SELECT doc_id, md5(mh_6 || '|' || mh_7) FROM m),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM k a JOIN k b ON a.band_key = b.band_key AND a.id < b.id)
            SELECT c.id_a, c.id_b,
                   round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
                         len(list_distinct(list_concat(ta.sh, tb.sh))), 6) AS jaccard
            FROM cand c JOIN t ta ON ta.doc_id = c.id_a JOIN t tb ON tb.doc_id = c.id_b
        """,
        "simhash": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(tok), 1, 4))::BIGINT AS w0,
                         ('0x' || substr(md5(tok), 5, 4))::BIGINT AS w1,
                         ('0x' || substr(md5(tok), 9, 4))::BIGINT AS w2,
                         ('0x' || substr(md5(tok), 13, 4))::BIGINT AS w3
                  FROM toks),
            bits AS (
                SELECT doc_id, b.b AS b,
                       sum((((CASE b.b // 16 WHEN 0 THEN w0 WHEN 1 THEN w1
                              WHEN 2 THEN w2 ELSE w3 END) >> (b.b % 16)) & 1) * 2 - 1) AS s
                FROM h, (SELECT unnest(generate_series(0, 63)) AS b) b
                GROUP BY doc_id, b.b),
            words AS (
                SELECT doc_id, b // 16 AS w,
                       CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << (b % 16)) ELSE 0 END) AS BIGINT) AS wv
                FROM bits GROUP BY doc_id, b // 16)
            SELECT doc_id,
                   max(CASE WHEN w = 0 THEN wv END) AS sh0,
                   max(CASE WHEN w = 1 THEN wv END) AS sh1,
                   max(CASE WHEN w = 2 THEN wv END) AS sh2,
                   max(CASE WHEN w = 3 THEN wv END) AS sh3,
                   printf('%04x%04x%04x%04x',
                          max(CASE WHEN w = 3 THEN wv END),
                          max(CASE WHEN w = 2 THEN wv END),
                          max(CASE WHEN w = 1 THEN wv END),
                          max(CASE WHEN w = 0 THEN wv END)) AS simhash_hex
            FROM words GROUP BY doc_id
        """,
        "cosine_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round({_dot_sql('embedding', 'qe')} /
                   (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('qe', 'qe')})), 6) AS sim
            FROM embeddings, q
            ORDER BY {_dot_sql('embedding', 'qe')} /
                   (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('qe', 'qe')})) DESC, vec_id
            LIMIT 10
        """,
        "ann_topk": f"""
            WITH q AS (SELECT embedding AS qe, ({bucket_sql}) AS qbucket
                       FROM embeddings WHERE vec_id = 0),
            b AS (SELECT vec_id, embedding, ({bucket_sql}) AS bucket FROM embeddings)
            SELECT b.vec_id, round({_dot_sql('b.embedding', 'q.qe')} /
                   (sqrt({_dot_sql('b.embedding', 'b.embedding')}) * sqrt({_dot_sql('q.qe', 'q.qe')})), 6) AS sim
            FROM b, q
            WHERE bit_count(CAST(xor(b.bucket, q.qbucket) AS BIGINT)) <= 1
            ORDER BY {_dot_sql('b.embedding', 'q.qe')} /
                   (sqrt({_dot_sql('b.embedding', 'b.embedding')}) * sqrt({_dot_sql('q.qe', 'q.qe')})) DESC, b.vec_id
            LIMIT 10
        """,
        "embed_dups": f"""
            WITH b AS ({band_union})
            SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
                   round({_dot_sql('a.embedding', 'c.embedding')} /
                        (sqrt({_dot_sql('a.embedding', 'a.embedding')}) *
                         sqrt({_dot_sql('c.embedding', 'c.embedding')})), 6) AS sim
            FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
            WHERE {_dot_sql('a.embedding', 'c.embedding')} /
                  (sqrt({_dot_sql('a.embedding', 'a.embedding')}) *
                   sqrt({_dot_sql('c.embedding', 'c.embedding')})) >= 0.35
        """,
        "stream_windowed": """
            WITH cells AS (
                SELECT ts, value,
                       (user_id*73) % 997 - 498 AS cx,
                       (user_id*179) % 991 - 495 AS cy,
                       CAST(0 AS BIGINT) AS e
                FROM events),
            wm AS (SELECT max(ts) - INTERVAL 15 MINUTE AS w FROM events),
            agg AS (
                SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, cx, cy, e,
                       count(*) AS n_events, round(avg(value), 6) AS avg_value
                FROM cells GROUP BY 1, 2, 3, 4)
            SELECT CAST(epoch(ws) AS BIGINT) AS win_start_epoch, cx, cy, e,
                   n_events, avg_value
            FROM agg WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT i AS media_id,
                       'image-payload-' || md5(CAST(i AS VARCHAR)) AS payload
                FROM (SELECT unnest(generate_series(0, 199)) AS i)),
            d AS (SELECT media_id, payload, md5(payload) AS dig FROM m)
            SELECT media_id, CAST(len(payload) AS BIGINT) AS n_bytes,
                   round(('0x' || substr(dig, 1, 2))::INT / 255.0, 6) AS f0,
                   round(('0x' || substr(dig, 3, 2))::INT / 255.0, 6) AS f1,
                   round(('0x' || substr(dig, 5, 2))::INT / 255.0, 6) AS f2,
                   round(('0x' || substr(dig, 7, 2))::INT / 255.0, 6) AS f3,
                   round(('0x' || substr(dig, 9, 2))::INT / 255.0, 6) AS f4,
                   round(('0x' || substr(dig, 11, 2))::INT / 255.0, 6) AS f5,
                   round(('0x' || substr(dig, 13, 2))::INT / 255.0, 6) AS f6,
                   round(('0x' || substr(dig, 15, 2))::INT / 255.0, 6) AS f7
            FROM d
        """,
        # webpages_ingest / text_identity: xxhash64-based synth -> rows-only check
    }
