"""Two-parallelism scaling measurement (BASELINE.json north rule), round 3.

Round-2 finding (BENCH/scaling_results.json): the end-to-end pipeline topped
out at 0.38 paired 4->16 efficiency, and the measured cause was the
dominance-merge/cell-aggregation hash tables over 8-16M cell keys — their
CPU-time itself inflated 1.45-1.8x at 16 threads (DRAM/LLC contention),
while a pure-compute control held cpu-ratio 1.02 and ~92% of the host's
sustained envelope. Round 3 removes the hash tables from the pipeline
instead of excusing them:

- ingest: pages -> BLOCK raster directly (``pages_to_blocks``: one point
  shuffle by block key + vectorized bincount histogram — no per-cell hash
  table), staged as bucketed tables (the "crawls already in the lake" state
  a 100 TB deployment starts from);
- merge: crawl-over-crawl ``merge_blocks`` — co-partitioned bucketed join +
  numpy winner kernel over aligned arrays, ZERO Exchange (plan-asserted in
  tests/test_blocks.py), sequential memory access;
- pyramid: ``pyramid_blocks`` — block-local rollup, zero shuffle;
- polygon: Arrow-batched numpy count over block arrays, zero shuffle.

The driver launches this twice via spark-submit --py-files (e.g. local[4]
vs local[16] — the sandbox proxy for N vs 4N executors) and reports paired
throughput + scaling efficiency. Work is sized so task compute dominates
scheduling — the regime the 100 TB deployment lives in.
"""

from __future__ import annotations

import argparse
import json
import time


def _cpu_probe(procs: int, seconds: float = 3.0) -> float:
    """Per-core spin throughput (Mloops/s/core) measured with ``procs``
    concurrent spinners — records the host's ACTUAL capacity in this leg's
    time window (the hypervisor throttles sustained load invisibly to guest
    steal counters; see BENCH/BASELINE.md). Evidence, not correction."""
    import multiprocessing as mp
    import time as _t

    def spin(q):
        t_end = _t.perf_counter() + seconds
        n = 0
        while _t.perf_counter() < t_end:
            for _ in range(100_000):
                pass
            n += 1
        q.put(n)

    q = mp.Queue()
    ps = [mp.Process(target=spin, args=(q,)) for _ in range(procs)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return round(total * 0.1 / seconds / procs, 2)


def _bw_probe(procs: int) -> float:
    """Aggregate DRAM-stream bandwidth (GB/s) at ``procs`` concurrent
    streams — the host's data-movement capacity in this leg's window. The
    4->16 ratio of this number is the HARD ceiling for any data-bound
    phase: measured ~1.85x (= 0.46 scaling efficiency) on this box, vs the
    spin probe's ~3.2x (0.79-0.81) for cache-resident compute. See
    BENCH/bandwidth_probe.py."""
    import sys

    sys.path.insert(0, ".")
    from BENCH.bandwidth_probe import run as bw_run

    return bw_run(procs)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--pages", type=int, default=4_000_000)
    ap.add_argument("--bits", type=int, default=8, help="block = 2^bits x 2^bits cells")
    ap.add_argument("--extent", type=float, default=4096.0)
    ap.add_argument("--buckets", type=int, default=64)
    # byte-diet staging (round 5): float32 heights / int32 counts / int32
    # point coords — half the bytes on every data-movement phase. The
    # binding phases sit AT the host's DRAM envelope, so bytes are
    # wall-time AND scaling efficiency (the hi leg saturates first).
    ap.add_argument("--wide", action="store_true",
                    help="use float64/int64 payloads (pre-round-5 layout)")
    # steady-state reps (round 5): the merge/pyramid/polygon phases are
    # short enough (2-13 s) that first-run plan codegen + JVM JIT — a
    # one-time cost that amortizes to nothing over a 100 TB run — is a
    # measurable fraction of the phase. With --steady-reps N each steady
    # phase runs N times and reports the per-phase MIN (bench.py's
    # established min-of-reps protocol); rep-1 times are retained in
    # ``phases_rep1`` for transparency. Ingest is not repeated: it is
    # minutes long and already amortizes its fixed costs.
    ap.add_argument("--steady-reps", type=int, default=1)
    args = ap.parse_args()
    narrow = not args.wide

    probe_before = _cpu_probe(args.cores)
    bw_before = _bw_probe(args.cores)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName(f"qt-scaling-{args.cores}")
        # FIXED partition count for every leg: identical physical plan, only
        # executor parallelism differs (the cluster analogue: partitioning is
        # a property of the data layout, not of how many executors show up)
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from aardvark_geometry_quadtree_spark.operators.blocks import (
        merge_blocks,
        polygon_count_blocks,
        pyramid_blocks,
        save_blocks_bucketed,
    )
    from aardvark_geometry_quadtree_spark.sources.webpages import (
        geocode,
        pages_to_points,
        points_to_blocks,
        synth_webpages,
    )

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def jvm_cpu_sec() -> float:
        """Driver-JVM process CPU seconds via /proc (executors run inside it
        in local mode) — separates 'engine did more total work' from 'host
        denied CPU': constant cpu-sec across parallelism = perfectly
        parallelizable plan; low cpu/(wall*cores) utilization = host
        throttle, not engine."""
        with open(f"/proc/{jvm_pid}/stat") as f:
            parts = f.read().split()
        return (int(parts[13]) + int(parts[14])) / 100.0  # utime+stime, ticks

    # pre-warm python workers (spark.python.worker.reuse keeps them): the
    # first Arrow kernel otherwise pays ~4s of one-time worker spin-up that
    # is neither engine nor data dependent (same protocol as bench.py)
    import pandas as _pd

    spark.range(args.cores * 4, numPartitions=args.cores * 4).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    rows = 0
    phases: dict[str, float] = {}
    phases_rep1: dict[str, float] = {}

    def mark(name: str, t_start: float) -> None:
        phases[name] = round(time.perf_counter() - t_start, 2)

    def steady(name: str, fn) -> None:
        """Run a steady phase ``--steady-reps`` times; report the MIN (the
        least-JIT/least-interference rep — bench.py's protocol), keep rep 1
        in ``phases_rep1``. The phase's side effects (table overwrite, row
        counting guarded by the caller) are idempotent across reps."""
        times = []
        for r in range(max(1, args.steady_reps)):
            t_start = time.perf_counter()
            fn(r)
            times.append(round(time.perf_counter() - t_start, 2))
        phases[name] = min(times)
        phases_rep1[name] = times[0]

    # --- setup (UNTIMED): synthesize the web-pages input tables ------------
    # The input contract (BASELINE.json input_hint) is an EXISTING table of
    # web pages — generating the fixture corpus is test scaffolding, not
    # engine work, so it stays outside the measured window (its wall time is
    # still reported below for transparency).
    t_setup = time.perf_counter()
    half = args.pages // 2
    for i, seed in ((1, 42), (2, 1042)):
        synth_webpages(spark, half, nsites=5000, skew=1.2, seed=seed).write.mode(
            "overwrite"
        ).parquet(f"/dev/shm/spark-wh/pages_{i}")
    setup_sec = round(time.perf_counter() - t_setup, 2)

    cpu0 = jvm_cpu_sec()
    t0 = time.perf_counter()

    # --- ingest_scan: the string-touching projection, run ONCE per crawl ---
    # pages -> geocoded INT points (cx, cy, n_chars), staged as the durable
    # geocoded input. This is the only phase that reads url/text strings;
    # it is parquet-string-scan bandwidth-bound, so its ceiling is the DRAM
    # envelope (~0.46 on this box), and it amortizes: every later block
    # build / re-tile / merge starts from the staged points.
    t = time.perf_counter()
    for i in (1, 2):
        pages = spark.read.parquet(f"/dev/shm/spark-wh/pages_{i}")
        pts = pages_to_points(geocode(pages, extent=args.extent), e=0, narrow=narrow)
        pts.write.mode("overwrite").parquet(f"/dev/shm/spark-wh/points_{i}")
    mark("ingest_scan", t)

    # --- ingest_blocks: staged int points -> bucketed block staging tables -
    # (one point-shuffle per crawl, bincount histogram kernels, NO per-cell
    # hash aggregation anywhere)
    t = time.perf_counter()
    for i in (1, 2):
        pts = spark.read.parquet(f"/dev/shm/spark-wh/points_{i}")
        blk = points_to_blocks(pts, e=0, bits=args.bits, narrow=narrow)
        save_blocks_bucketed(blk.drop("n_pages", "n_pages_mask"),
                             f"crawl{i}_blk", n_buckets=args.buckets)
    mark("ingest_blocks", t)

    # --- merge: crawl-over-crawl dominance merge, Exchange-free plan + -----
    # vectorized numpy winner kernel (a SQL zip_with formulation anti-scaled:
    # interpreted per-element lambdas churn the shared heap)
    def _merge(rep: int) -> None:
        nonlocal rows
        merged = merge_blocks(
            spark.table("crawl1_blk"), spark.table("crawl2_blk"),
            "more_detailed_or_first", layers=["height"],
        )
        save_blocks_bucketed(merged, "merged_blk", n_buckets=args.buckets)
        n = spark.table("merged_blk").agg(F.sum("n_samples")).collect()[0][0]
        if rep == 0:
            rows += n

    steady("merge", _merge)
    merged_t = spark.table("merged_blk")

    # --- pyramid: block-local LoD rollup, zero shuffle ---------------------
    def _pyramid(rep: int) -> None:
        nonlocal rows
        pyr = pyramid_blocks(merged_t, levels=5, layers=["height"])
        n = pyr.agg(F.sum("n_samples")).collect()[0][0]
        if rep == 0:
            rows += n

    steady("pyramid", _pyramid)

    # --- polygon: numpy count over block arrays, zero shuffle --------------
    poly = [(100.0, 100.0), (3600.0, 400.0), (3000.0, 3500.0), (400.0, 3000.0)]

    def _polygon(rep: int) -> None:
        nonlocal rows
        n = polygon_count_blocks(merged_t, poly).collect()[0]["n_inside"]
        if rep == 0:
            rows += n

    steady("polygon", _polygon)

    # composed wall: ingest (run once) + best steady rep per phase — the
    # steady-state pipeline statistic; the raw window including extra reps
    # is reported separately as wall_sec_window
    wall_window = time.perf_counter() - t0
    wall = sum(phases.values())
    cpu = jvm_cpu_sec() - cpu0
    probe_after = _cpu_probe(args.cores)
    bw_after = _bw_probe(args.cores)
    print(
        json.dumps(
            {
                "cores": args.cores,
                "pages": args.pages,
                "narrow": narrow,
                "rows": rows,
                "setup_sec_untimed": setup_sec,
                "steady_reps": args.steady_reps,
                "wall_sec": round(wall, 2),
                "wall_sec_window": round(wall_window, 2),
                "rows_per_sec": round(rows / wall, 1),
                "phases": phases,
                "phases_rep1": phases_rep1,
                "probe_mloops_per_core": [probe_before, probe_after],
                "probe_bw_gbps": [bw_before, bw_after],
                "jvm_cpu_sec": round(cpu, 1),
                "cpu_utilization": round(cpu / (wall_window * args.cores), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
