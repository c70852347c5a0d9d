"""Extra benchmarks (guide §1.4): time individual bench queries in isolation,
with the same count() forcing as the frozen bench.py, or with a noop sink
(SPARK_GRAFT_SINK=noop) to force every column. Not part of the driver's
measurement — bench.py is frozen; numbers here are cited in
OPTIMIZATION_r06.md.

Usage: [SPARK_GRAFT_SF_DIR=...] python bench_extra.py [reps] [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def ab_narrow(reps: int = 3) -> None:
    """VERDICT r5 #2: wide vs narrow points_to_blocks on IDENTICAL staged
    points (the A/B the round-5 bench entry lacked). Prints one JSON line."""
    import time

    from aardvark_geometry_quadtree_spark.session import get_spark
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode, pages_to_points, points_to_blocks, synth_webpages,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_pages = int(os.environ.get("SPARK_GRAFT_AB_PAGES", "2000000"))
    spark = get_spark(app_name="qt-ab-narrow", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, int(cpus)))
    spark.range(int(cpus) * 4, numPartitions=int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).count()
    out: dict = {"n_pages": n_pages, "cpus": int(cpus), "bits": 6}
    for narrow in (False, True):
        # stage the SAME points once per arm (narrow staging for the narrow
        # arm, wide for wide — each arm is the full staged-input path)
        pts = pages_to_points(
            geocode(synth_webpages(spark, n_pages, nsites=2000, skew=1.5), extent=4096.0),
            0, narrow,
        ).localCheckpoint()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            points_to_blocks(pts, e=0, bits=6, narrow=narrow).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 3))
        out["narrow" if narrow else "wide"] = {"min": min(times), "samples": times}
        pts.unpersist()
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "ab_narrow":
        ab_narrow(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sink = os.environ.get("SPARK_GRAFT_SINK", "count")
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    names = sys.argv[2:]

    import __spark_entry__ as E
    from aardvark_geometry_quadtree_spark.session import get_spark
    from tools.capture_plans import _ingest_blocks_narrow, _ingest_tile_build, _pyramid_l6

    spark = get_spark(app_name="qt-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, int(cpus)))
    spark.range(int(cpus) * 4, numPartitions=int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).count()

    qs = E.queries()
    qs["ingest_blocks_narrow"] = _ingest_blocks_narrow
    qs["ingest_tile_build"] = _ingest_tile_build
    qs["pyramid_l6"] = _pyramid_l6
    if not names:
        names = ["lsh_pairs", "jaccard_pairs", "simhash", "minhash"]

    times: dict[str, list[float]] = {n: [] for n in names}
    rows: dict[str, int] = {}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                rows[name] = -1
            else:
                rows[name] = df.count()
            times[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {n: {"min": min(t), "samples": t, "rows": rows[n]} for n, t in times.items()}
    print(json.dumps({"sf_dir": sf_dir, "cpus": int(cpus), "sink": sink, "queries": out}))


if __name__ == "__main__":
    main()
