"""Many-polygon PIP join, salted aggregation, and the streaming builder."""

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators.query import inside_polygon, pip_join
from aardvark_geometry_quadtree_spark.operators.skew import hot_keys, salted_cell_agg
from aardvark_geometry_quadtree_spark.sources.grids import grid


def test_pip_join_matches_single_polygon_path(spark, q10x7):
    polys = spark.createDataFrame(
        [
            (1, [0.0, 5.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.5, 4.0]),  # golden: 18
            (2, [3.9, 10.1, 10.1, 8.1, 8.1, 3.9], [-0.1, -0.1, 7.1, 7.1, 4.1, 4.1]),  # 30
            (3, [100.0, 101.0, 100.5], [100.0, 100.0, 101.0]),  # outside: 0
            (4, [0.0, 0.0, 4.0, 4.0, 5.0], [0.0, 4.0, 4.5, 4.0, 0.0]),  # polygon 1, CW
        ],
        "poly_id int, xs array<double>, ys array<double>",
    )
    got = pip_join(q10x7, polys)
    counts = {r["poly_id"]: r["n"] for r in got.groupBy("poly_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 18, 2: 30, 4: 18}
    # row-level parity with the plan-time expression path for polygon 1, in
    # both windings
    b = {(r["cx"], r["cy"]) for r in inside_polygon(q10x7, [(0, 0), (5, 0), (4, 4), (4.0, 4.5), (0, 4)]).collect()}
    for pid in (1, 4):
        a = {(r["cx"], r["cy"]) for r in got.filter(f"poly_id = {pid}").collect()}
        assert a == b, pid


def test_salted_agg_matches_plain(spark):
    g = grid(spark, 0, 0, 64, 4, e=0, pattern="seq")
    # skew: all rows of the left half share one tile key at split=5
    keyed = g.withColumn("tile_cx", F.shiftright("cx", 5)).withColumn(
        "tile_cy", F.shiftright("cy", 5)
    )
    plain = {
        (r["tile_cx"], r["tile_cy"]): (r["avg"], r["n"])
        for r in keyed.groupBy("tile_cx", "tile_cy")
        .agg(F.avg("height").alias("avg"), F.count("height").alias("n"))
        .collect()
    }
    salted = {
        (r["tile_cx"], r["tile_cy"]): (r["avg_height"], r["n_samples"])
        for r in salted_cell_agg(keyed, ["tile_cx", "tile_cy"], "height", n_salts=8).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert salted[k][0] == pytest.approx(plain[k][0])
        assert salted[k][1] == plain[k][1]


def test_hot_keys(spark):
    skewed = grid(spark, 0, 0, 1000, 1, e=0, pattern="const", value=1.0).withColumn(
        "k", F.when(F.col("cx") < 900, F.lit(0)).otherwise(F.col("cx"))
    )
    hot = hot_keys(skewed, ["k"], threshold_ratio=10.0).collect()
    assert len(hot) == 1 and hot[0]["k"] == 0 and hot[0]["count"] == 900


def test_streaming_builder(spark, tmp_path):
    """Incremental Builder.Add analogue: stream patches in, tiles update
    per micro-batch with exactly-once checkpointing."""
    from aardvark_geometry_quadtree_spark.streaming.builder_stream import start_builder_stream

    src_dir = str(tmp_path / "incoming")
    staging = str(tmp_path / "staging")
    tiles = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")

    g1 = grid(spark, 0, 0, 8, 8, e=0, pattern="seq", patch_id=0)
    g1.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(g1.schema).parquet(src_dir)
    q = start_builder_stream(stream, staging, tiles, ckpt, split=2, layers=["height"]).start()
    q.awaitTermination(120)

    out = spark.read.parquet(tiles)
    assert out.count() == 64
    assert out.select("tile_cx", "tile_cy").distinct().count() == 4

    # second batch: a later patch overwrites one cell (first-writer-wins rule
    # means the ORIGINAL value survives within merge_layers semantics)
    g2 = grid(spark, 0, 0, 1, 1, e=0, pattern="const", value=99.0, patch_id=1)
    g2.write.mode("append").parquet(src_dir)
    q2 = start_builder_stream(stream, staging, tiles, ckpt, split=2, layers=["height"]).start()
    q2.awaitTermination(120)

    out2 = spark.read.parquet(tiles)
    assert out2.count() == 64
    v = out2.filter((F.col("cx") == 0) & (F.col("cy") == 0)).collect()[0]["height"]
    assert v == 1.0  # patch 0 wrote first (Layer.fs:399-421 first-writer rule)


def test_block_ingest_stream_matches_batch_ingest(spark, tmp_path):
    """Streaming micro-batch block ingest over two batches equals the batch
    pages_to_blocks over the union of all pages (cells re-histogrammed from
    staged points, never partial-merged)."""
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_blocks, synth_webpages)
    from aardvark_geometry_quadtree_spark.streaming.builder_stream import (
        start_block_ingest_stream)

    src = str(tmp_path / "pages_in")
    pts = str(tmp_path / "points")
    blk = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt2")

    p1 = synth_webpages(spark, 1500, nsites=40, seed=5)
    p1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(p1.schema).parquet(src)
    q = start_block_ingest_stream(stream, pts, blk, ckpt, extent=128.0, bits=3).start()
    q.awaitTermination(120)

    p2 = synth_webpages(spark, 1500, nsites=40, seed=6)
    p2.write.mode("append").parquet(src)
    q2 = start_block_ingest_stream(stream, pts, blk, ckpt, extent=128.0, bits=3).start()
    q2.awaitTermination(120)

    got = spark.read.parquet(blk).drop("pbx", "pby")
    exp = pages_to_blocks(geocode(p1.unionByName(p2), extent=128.0), e=0, bits=3)
    def key(df):
        return {
            (r["bx"], r["by"]): (r["n_samples"], tuple(r["occ"]),
                                  tuple(None if v is None or v != v else round(v, 9) for v in r["height"]),
                                  tuple(r["n_pages"]))
            for r in df.collect()
        }
    assert key(got) == key(exp)


def test_block_ingest_stream_retry_idempotent(spark, tmp_path):
    """Failure injection: foreachBatch is at-least-once — re-running a
    micro-batch with the SAME batch_id (points write landed, checkpoint
    commit lost) must leave points AND blocks identical: the points land
    via batch_id-partitioned dynamic overwrite (a retry replaces its own
    partition), and the block rebuild is a pure overwrite derived from the
    points table."""
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_blocks, synth_webpages)
    from aardvark_geometry_quadtree_spark.streaming.builder_stream import (
        start_block_ingest_stream)

    src = str(tmp_path / "pages_in")
    pts = str(tmp_path / "points")
    blk = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    p1 = synth_webpages(spark, 800, nsites=30, seed=7)
    p2 = synth_webpages(spark, 800, nsites=30, seed=8)
    p1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(p1.schema).parquet(src)
    w = start_block_ingest_stream(stream, pts, blk, ckpt, extent=128.0, bits=3)
    proc = w._qt_process
    proc(p1, 0)
    proc(p1, 0)  # retried batch 0 (append-after-crash scenario)
    proc(p2, 1)
    proc(p2, 1)  # retried batch 1
    assert spark.read.parquet(pts).count() == 1600  # no duplicated points
    got = spark.read.parquet(blk).drop("pbx", "pby")
    exp = pages_to_blocks(geocode(p1.unionByName(p2), extent=128.0), e=0, bits=3)

    def key(df):
        return {
            (r["bx"], r["by"]): (r["n_samples"], tuple(r["occ"]),
                                 tuple(None if v is None or v != v else round(v, 9) for v in r["height"]),
                                 tuple(r["n_pages"]))
            for r in df.collect()
        }

    assert key(got) == key(exp)
