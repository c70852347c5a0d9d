"""Capture .explain('formatted') output for bench queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each named query (default: the
bench workload set). Uses sf0.1 — plan shape, not timing.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCH_SET = [
    "cell_encode", "inside_polygon", "near_line", "merge_dominance",
    "merge_blocks", "pyramid_blocks", "polygon_blocks", "merge_mixed_res",
    "merge_blocks_mixed", "knn_batch", "knn_batch_blocks", "lod_cut",
    "exact_dups", "lsh_pairs", "jaccard_pairs", "simhash", "cosine_topk",
    "ann_topk", "multimodal_features", "minhash", "embed_dups",
]


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or BENCH_SET
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from aardvark_geometry_quadtree_spark.session import get_spark

    spark = get_spark(app_name="qt-plans", master="local[8]")
    qs = E.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    extra = {
        "ingest_blocks_narrow": _ingest_blocks_narrow,
        "pyramid_l6": _pyramid_l6,
        "ingest_tile_build": _ingest_tile_build,
    }
    for name in names:
        fn = qs.get(name) or extra.get(name)
        if fn is None:
            print(f"SKIP {name}: unknown")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # plan capture must not kill the batch
            plan = f"ERROR capturing plan: {ex}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


def _n_pages(sf_dir: str) -> int:
    # mirror bench.py's scaling rule so bench_extra numbers are comparable
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0
    return max(200_000, int(2_000_000 * sf))


def _ingest_blocks_narrow(spark, sf_dir):
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_blocks, synth_webpages,
    )
    pages = synth_webpages(spark, _n_pages(sf_dir), nsites=2000, skew=1.5)
    return pages_to_blocks(geocode(pages, extent=4096.0), e=0, bits=6, narrow=True)


def _pyramid_l6(spark, sf_dir):
    from aardvark_geometry_quadtree_spark.operators.pyramid import build_pyramid_blocked
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_samples, synth_webpages,
    )
    pages = synth_webpages(spark, _n_pages(sf_dir), nsites=2000, skew=1.5)
    s = pages_to_samples(geocode(pages, extent=4096.0), e=0).drop("n_pages")
    return build_pyramid_blocked(s, levels=6, layers=["height"])


def _ingest_tile_build(spark, sf_dir):
    from aardvark_geometry_quadtree_spark.operators.build import build_tiles
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_samples, synth_webpages,
    )
    pages = synth_webpages(spark, _n_pages(sf_dir), nsites=2000, skew=1.5)
    s = pages_to_samples(geocode(pages, extent=4096.0), e=0)
    return build_tiles(s.drop("n_pages"), split=8, layers=["height"])


if __name__ == "__main__":
    main()
