"""The two workloads: set-up, one timed op, and the op's output check.

Every op forces its result with the op's own action (a staged write, a
``noop`` write, or a collect of a small answer), never ``count()``, and
reads the counts its check needs through ``DataFrame.observe`` on that same
action, so checking adds no Spark job to the timed region.
"""

from __future__ import annotations

import math
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs as I
from aardvark_geometry_quadtree_spark.operators import blocks as B
from aardvark_geometry_quadtree_spark.operators import dedup as D
from aardvark_geometry_quadtree_spark.operators import merge as M
from aardvark_geometry_quadtree_spark.operators import pyramid as P
from aardvark_geometry_quadtree_spark.operators import query as Q
from aardvark_geometry_quadtree_spark.operators import similarity as S
from aardvark_geometry_quadtree_spark.sources import webpages as W

# fixed, not derived from the core count: the plans (and so the task
# counts) are the same on every host
SHUFFLE_PARTITIONS = 4
BUCKETS = 4
STAGE_FILES = 4  # parquet files per staged input: 4 non-empty scan tasks

# input sizes: as large as a run of about a minute allows. A warm pass at
# 5,000 pages per crawl takes about 8 s on 4 cores, all of it per-step
# fixed cost; README.md ("Time budget") lists the steps that stay
# floor-bound at these sizes
PAGES_PER_CRAWL = 500_000
WARMUP_PAGES = 5_000
DOCS_PER_BATCH = 1_500  # base documents; planted copies add 20%
KNN_K = 8
LOD_LEVEL = 2  # the LoD cut's minimum exponent
LINE_ANGLE = 0.6  # radians: a small-window line crosses about 12 of the 64 blocks
KNN_RING_EXPONENT = 5  # sample-path kNN rings of 32 x 32: one round nearly always
JACCARD_MIN = 0.5
COSINE_MIN = 0.95
# embedding_dup_pairs runs with its defaults (16-bit keys x 4 bands), the
# setting its docstring names for corpus scale and what a caller that
# passes no key width gets. Its per-call cost is mostly planning and code
# generation for the 64 plane expressions, and that cost is measured here.
# planted near-pair recall floors. Measured on the tree this benchmark was
# written against, seeds 1-40 (150 planted near pairs per batch): lowest
# jaccard 0.96 (median 0.98), simhash 0.67 (0.76), embedding 0.993 (1.0).
# Each floor sits about two binomial standard deviations below that lowest
# value, so an unseen seed does not trip it by chance, while an operator
# that starts missing a real share of the pairs does.
RECALL_FLOOR = {"jaccard": 0.92, "simhash": 0.59, "embedding": 0.97}


@dataclass
class OpResult:
    seconds: float
    items: int
    ok: bool
    latencies: list = field(default_factory=list)  # (size class, ms) per query
    parts: dict = field(default_factory=dict)  # part -> (seconds, items)


def _observed(df, action, *aggs) -> dict:
    """Run ``action`` on ``df`` with ``aggs`` observed on the same job."""
    obs = Observation()
    action(df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs))
    return obs.get


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _per_level(col, levels, count=False):
    e = F.col("e")
    return [
        F.sum(F.when(e == k, F.lit(1) if count else F.col(col))).alias(f"l{k}")
        for k in range(1, levels + 1)
    ]


def _corrupt(v):
    """A wrong version of a result, of the same type."""
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, list):
        return v[:-1] + [(v[-1] or 0) + 1] if v else [1]
    if isinstance(v, set):
        return set(sorted(v)[1:]) if v else {None}
    return None


class Workload:
    """Common plumbing: the session, the work directory, the seed, the
    tracer, and a corruption hook for the self-test."""

    def __init__(self, spark, work: str, seed: int, tracer, corrupt_every: int = 0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.corrupt_every = corrupt_every
        self.checks = 0  # checks made so far: the corruption hook counts them
        self.setup_phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase, so the details line shows where
        ``setup_s`` goes."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def reset_counters(self) -> None:
        """Forget what the set-up ops counted."""

    def final_metrics(self) -> dict[str, float]:
        """Per-layer values the workload counts itself (traced runs)."""
        return {}

    def expect(self, what: str, got, want, rel: float = 0.0) -> bool:
        """One output check. With ``corrupt_every = n`` every n-th check sees
        a corrupted result, to show that the accounting catches it."""
        self.checks += 1
        if self.corrupt_every and self.checks % self.corrupt_every == 0:
            got = _corrupt(got)
        if rel:
            ok = got is not None and abs(got - want) <= rel * max(abs(want), 1.0)
        else:
            ok = got == want
        if not ok:
            print(f"check failed: {what}: got {got!r}, want {want!r}", file=sys.stderr)
        return ok


# ---------------------------------------------------------------------------
# crawl_build
# ---------------------------------------------------------------------------


class CrawlBuild(Workload):
    """The batch side. Each op is one full build pass over two staged
    crawls (ingest to points and blocks, bucketed staging, dominance merge
    and LoD pyramid on the block layout, then the same merge and pyramid on
    the sample layout), then one near-dup batch (:class:`NearDup`) over a
    staged document batch. No query code runs."""

    def setup_inputs(self, pages: int = PAGES_PER_CRAWL) -> None:
        crawls = I.make_crawls(self.seed, pages)
        for i, c in enumerate(crawls, 1):
            I.stage_crawl(c, self.path(f"pages{i}"), STAGE_FILES)
        self.pages = pages
        self.ref = I.CrawlReference(crawls)
        self.levels_ref = self.ref.cells_per_level()

    def setup(self) -> None:
        # untimed warm-up: one pass over small crawls pays the session's
        # one-time costs (class loading, code generation, Python worker
        # start) for every build step, then the real inputs replace them
        with self.phase("warm-up pass"):
            self.setup_inputs(WARMUP_PAGES)
            if not self.run_pass(0):
                raise RuntimeError("warm-up build pass failed its checks")
        with self.phase("inputs"):
            self.setup_inputs()
            # no warm-up batch (see README.md, "Time budget"): after the
            # warm-up pass a first 2,400-document batch ran 20.5 s against 15.1 s
            # and 18.0 s for the next two; a warm-up batch costs about 17 s a run
            self.dedup = NearDup(self.spark, self.work, self.seed, self.tracer, self.corrupt_every)
            self.dedup.setup()

    def reset_counters(self) -> None:
        self.dedup.reset_counters()

    def final_metrics(self) -> dict[str, float]:
        return self.dedup.final_metrics()

    def op(self, i: int) -> OpResult:
        parts, ok = {}, True
        for name, fn in [("pass", self.pass_op), ("batch", self.dedup.op)]:
            r = fn(i)
            parts[name] = (r.seconds, r.items)
            ok &= r.ok
        return OpResult(sum(t for t, _ in parts.values()), sum(n for _, n in parts.values()),
                        bool(ok), parts=parts)

    def pass_op(self, i: int) -> OpResult:
        t0 = time.perf_counter()
        ok = self.run_pass(i)
        return OpResult(time.perf_counter() - t0, 2 * self.pages, ok)

    def run_pass(self, i: int) -> bool:
        sp, tr, ok = self.spark, self.tracer, True
        # which crawl is ingested first rotates per op (the merge itself
        # always names crawl 1 as the dominant side)
        order = (1, 2) if (self.seed + i) % 2 == 0 else (2, 1)
        read = sp.read.parquet
        for c in order:
            with tr.span("sources.webpages.pages_to_points") as s:
                r = _observed(W.pages_to_points(read(self.path(f"pages{c}"))),
                              lambda d: d.write.mode("overwrite").parquet(self.path(f"points{c}")))
                s["rows"] = r["rows"]
            ok &= self.expect(f"points{c} rows", r["rows"], self.pages)
        for c in order:
            with tr.span("sources.webpages.points_to_blocks") as s:
                r = _observed(
                    W.points_to_blocks(read(self.path(f"points{c}")), bits=I.BITS, include_counts=False),
                    lambda d: d.write.mode("overwrite").parquet(self.path(f"blocks{c}")),
                    F.sum("n_samples").alias("cells"),
                )
                s["rows"] = r["rows"]
            ok &= self.expect(f"blocks{c} cells", r["cells"], self.ref.crawl_cells[c - 1])
        for c in order:
            with tr.span("operators.blocks.save_blocks_bucketed") as s:
                B.save_blocks_bucketed(read(self.path(f"blocks{c}")), f"crawl{c}_blk", BUCKETS)
        with tr.span("operators.blocks.merge_blocks") as s:
            m = B.merge_blocks(sp.table("crawl1_blk"), sp.table("crawl2_blk"),
                               "more_detailed_or_first", layers=["height"])
            r = _observed(m, lambda d: B.save_blocks_bucketed(d, "merged_blk", BUCKETS),
                          F.sum("n_samples").alias("cells"))
            s["rows"] = r["rows"]
        ok &= self.expect("merged block cells", r["cells"], self.levels_ref[0])
        with tr.span("operators.blocks.pyramid_blocks") as s:
            r = _observed(B.pyramid_blocks(sp.table("merged_blk"), levels=I.LEVELS, layers=["height"]),
                          _noop, *_per_level("n_samples", I.LEVELS))
            s["rows"] = r["rows"]
        ok &= self.expect("pyramid_blocks cells per level",
                          [r[f"l{k}"] for k in range(1, I.LEVELS + 1)], self.levels_ref[1:])
        # sample-layout arm
        for c in order:
            with tr.span("sources.webpages.pages_to_samples") as s:
                r = _observed(W.pages_to_samples(read(self.path(f"pages{c}"))).select("cx", "cy", "e", "height"),
                              lambda d: d.write.mode("overwrite").parquet(self.path(f"samples{c}")))
                s["rows"] = r["rows"]
            ok &= self.expect(f"samples{c} cells", r["rows"], self.ref.crawl_cells[c - 1])
        with tr.span("operators.merge.merge_samples") as s:
            m = M.merge_samples(read(self.path("samples1")), read(self.path("samples2")),
                                "more_detailed_or_first", layers=["height"],
                                first_exponents=[0], second_exponents=[0])
            r = _observed(m, lambda d: d.write.mode("overwrite").saveAsTable("merged_smp"))
            s["rows"] = r["rows"]
        ok &= self.expect("merged sample cells", r["rows"], self.levels_ref[0])
        with tr.span("operators.pyramid.build_pyramid_blocked") as s:
            pyr = P.build_pyramid_blocked(sp.table("merged_smp"), levels=I.LEVELS, layers=["height"],
                                          include_base=False, num_partitions=SHUFFLE_PARTITIONS)
            r = _observed(pyr, _noop, *_per_level(None, I.LEVELS, count=True))
            s["rows"] = r["rows"]
        ok &= self.expect("build_pyramid_blocked cells per level",
                          [r[f"l{k}"] for k in range(1, I.LEVELS + 1)], self.levels_ref[1:])
        return bool(ok)


# ---------------------------------------------------------------------------
# window_queries
# ---------------------------------------------------------------------------

SMALL = ["box_blocks", "box_samples", "polygon_blocks", "polygon_samples",
         "line_blocks", "line_samples", "cell_blocks", "cell_samples",
         "knn_blocks", "knn_samples"]
LARGE = ["box_blocks", "box_samples", "polygon_blocks", "polygon_samples",
         "polycount_blocks", "lod_blocks", "lod_samples"]
QUERY_KINDS = [("small", k) for k in SMALL] + [("large", k) for k in LARGE]

_SPAN_OF = {
    "box_blocks": "operators.blocks.inside_box_blocks",
    "box_samples": "operators.query.inside_box",
    "polygon_blocks": "operators.blocks.inside_polygon_blocks",
    "polygon_samples": "operators.query.inside_polygon",
    "line_blocks": "operators.blocks.near_line_blocks",
    "line_samples": "operators.query.near_line",
    "cell_blocks": "operators.blocks.inside_cell_blocks",
    "cell_samples": "operators.query.inside_cell",
    "knn_blocks": "operators.blocks.knn_join_blocks",
    "knn_samples": "operators.query.knn_join",
    "polycount_blocks": "operators.blocks.polygon_count_blocks",
    "lod_blocks": "operators.blocks.lod_cut_blocks",
    "lod_samples": "operators.query.lod_cut",
}


class WindowQueries(Workload):
    """Each op is one round of window queries: one query of every kind
    (small and large windows, block and sample layouts) in a seeded order,
    over the merged tables and LoD pyramids that set-up builds."""

    def setup(self) -> None:
        # the merged base cells and their LoD levels come from the generated
        # crawls (merged and averaged in numpy): this workload measures the
        # read side, so the sample tables are staged from them directly and
        # the block tables packed from them, instead of by a build pass
        sp = self.spark
        with self.phase("inputs"):
            ref = I.CrawlReference(I.make_crawls(self.seed, PAGES_PER_CRAWL))
            I.stage_cells(ref.levels[:1], self.path("cells"), STAGE_FILES)
            I.stage_cells(ref.levels, self.path("lod_cells"), STAGE_FILES)
            self.ref = I.WindowReference(ref)
        with self.phase("tables"):
            sp.read.parquet(self.path("cells")).createOrReplaceTempView("merged_smp")
            sp.read.parquet(self.path("lod_cells")).createOrReplaceTempView("lod_smp")
            B.pack_blocks(sp.table("merged_smp"), I.BITS, layers=["height"]) \
                .write.saveAsTable("merged_blk")
            base = sp.table("merged_blk")
            base.unionByName(B.pyramid_blocks(base, levels=I.LEVELS, layers=["height"])) \
                .write.saveAsTable("lod_blk")
        rng = np.random.default_rng([self.seed, 303])
        self.order = [QUERY_KINDS[j] for j in rng.permutation(len(QUERY_KINDS))]
        self.rng = rng
        # untimed warm-up: one query of every small-window kind, which runs
        # every query operator but polygon_count_blocks and the LoD cuts.
        # Warming only the four kinds with the largest first-call cost
        # saved 3.5 s of set-up but added 7 s to the timed round; warming
        # the large kinds too would add about 8 s to every run.
        with self.phase("warm-up queries"):
            for size, kind in QUERY_KINDS[:len(SMALL)]:
                p = self.params(size, kind)
                if self.query(size, kind, p)[0] != self.expected(p)[0]:
                    raise RuntimeError(f"warm-up {size} {kind} returned a wrong row count")

    def params(self, size: str, kind: str) -> dict:
        """Seeded geometry of one query. Sizes and shapes are the same on
        every seed, and windows are placed against the block grid so that
        every small window (but the line) lies inside one block and every
        large one spans the same 4 x 4 blocks' worth of extent: the number
        of blocks a query touches, which sets most of its cost, does not
        change with the seed."""
        rng, ref = self.rng, self.ref
        side = float(1 << I.BITS)
        if size == "small":
            x, y = ref.random_point(rng)
            # keep a 12-unit margin to the page's block edges
            x, y = (float(np.clip(v, (v // side) * side + 12.5, (v // side + 1) * side - 12.5))
                    for v in (x, y))
            if kind.startswith("box"):
                return {"box": (x - 10.0, y - 10.0, x + 10.0, y + 10.0)}
            if kind.startswith("polygon"):
                return {"poly": I.regular_polygon(rng, x, y, 12.0)}
            if kind.startswith("line"):
                t = LINE_ANGLE + rng.uniform(-0.05, 0.05)
                return {"line": (x, y, math.cos(t), math.sin(t), 1.5)}
            if kind.startswith("cell"):
                return {"cell": (int(x) >> 4, int(y) >> 4, 4)}
            return {"knn": (x, y)}
        nb = int(I.EXTENT) >> I.BITS  # blocks per axis
        bx0, by0 = (int(v) for v in rng.integers(0, nb - 3, size=2))
        x0, y0 = bx0 * side, by0 * side  # the 4 x 4-block window's corner
        if kind.startswith("box"):
            return {"box": (x0 + 16.25, y0 + 16.25, x0 + 495.75, y0 + 495.75)}
        if kind.startswith(("polygon", "polycount")):
            return {"poly": I.regular_polygon(rng, x0 + 2 * side, y0 + 2 * side, 239.5, n=9)}
        return {"lod": (bx0, by0, bx0 + 3, by0 + 3, LOD_LEVEL)}

    def expected(self, p: dict) -> tuple[int, float]:
        ref = self.ref
        if "box" in p:
            return ref.box(*p["box"])
        if "poly" in p:
            return ref.polygon(p["poly"])
        if "line" in p:
            return ref.line(*p["line"])
        if "cell" in p:
            return ref.cell(*p["cell"])
        if "knn" in p:
            return ref.knn(*p["knn"], KNN_K)
        return ref.lod(*p["lod"])

    def query(self, size: str, kind: str, p: dict) -> tuple[int, float | None]:
        """Run one query, forced by a noop write (or its own collect);
        returns (rows, sum of height), the sum None for a count-only query."""
        sp = self.spark
        blocks = kind.endswith("_blocks")
        tbl = sp.table("merged_blk" if blocks else "merged_smp")
        if kind == "polycount_blocks":
            n = B.polygon_count_blocks(tbl, p["poly"]).collect()[0]["n_inside"]
            return int(n), None
        if "box" in p:
            df = (B.inside_box_blocks(tbl, *p["box"]) if blocks else Q.inside_box(tbl, *p["box"]))
        elif "poly" in p:
            df = (B.inside_polygon_blocks(tbl, p["poly"]) if blocks else Q.inside_polygon(tbl, p["poly"]))
        elif "line" in p:
            df = (B.near_line_blocks(tbl, *p["line"]) if blocks else Q.near_line(tbl, *p["line"]))
        elif "cell" in p:
            df = (B.inside_cell_blocks(tbl, *p["cell"]) if blocks else Q.inside_cell(tbl, *p["cell"]))
        elif "knn" in p:
            pos = sp.createDataFrame([(0, *p["knn"])], "pid long, px double, py double")
            df = (B.knn_join_blocks(tbl, pos, KNN_K, I.BITS, stage_input=False) if blocks
                  else Q.knn_join(tbl, pos, KNN_K, ring_exponent=KNN_RING_EXPONENT, stage_input=False))
        else:
            bx0, by0, bx1, by1, level = p["lod"]
            exps = list(range(I.LEVELS + 1))
            if blocks:
                win = sp.table("lod_blk").filter(F.col("bx").between(bx0, bx1) & F.col("by").between(by0, by1))
                df = B.unpack_blocks(B.lod_cut_blocks(win, level, exponents=exps), ["height"])
            else:
                scale = F.pow(F.lit(2.0), F.col("e")) / float(1 << I.BITS)
                wbx = F.floor(F.col("cx") * scale)
                wby = F.floor(F.col("cy") * scale)
                win = sp.table("lod_smp").filter(wbx.between(bx0, bx1) & wby.between(by0, by1))
                df = Q.lod_cut(win, level, exponents=exps)
        r = _observed(df, _noop, F.sum("height").alias("h"))
        return int(r["rows"]), float(r["h"] or 0.0)  # an empty sum is null

    def op(self, i: int) -> OpResult:
        rot = i % len(self.order)
        ok, lat, total = True, [], 0.0
        for size, kind in self.order[rot:] + self.order[:rot]:
            p = self.params(size, kind)
            with self.tracer.span(f"{_SPAN_OF[kind]}.{size}") as s:
                t0 = time.perf_counter()
                rows, h = self.query(size, kind, p)
                dt = time.perf_counter() - t0
                s["rows"] = rows
            total += dt
            lat.append((size, dt * 1000.0))
            want_rows, want_h = self.expected(p)
            ok &= self.expect(f"{size} {kind} rows", rows, want_rows)
            if kind != "polycount_blocks":
                ok &= self.expect(f"{size} {kind} sum(height)", h, want_h, rel=1e-9)
        return OpResult(total, len(self.order), bool(ok), lat)


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------


def _recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0


class NearDup(Workload):
    """The second half of a ``crawl_build`` op: dedup one staged batch with
    MinHash-LSH candidates (staged), their n-gram Jaccard verification,
    SimHash pairs, exact duplicates, and embedding near-duplicate pairs."""

    def setup(self) -> None:
        self.batch = I.DocBatch(self.seed, 0, DOCS_PER_BATCH)
        self.batch.stage(self.path("docs"), self.path("emb"), STAGE_FILES)
        self.reset_counters()

    def reset_counters(self) -> None:
        self.lsh_ratio: list[float] = []

    def final_metrics(self) -> dict[str, float]:
        """LSH and embedding-band useful/attempted ratios. The embedding
        operator does not expose its candidate count; with a threshold of
        -1 (every cosine passes) it returns every distinct candidate pair,
        so it is counted (untimed) with the operator itself."""
        emb = self.spark.read.parquet(self.path("emb"))

        def pairs(threshold: float) -> int:
            return S.embedding_dup_pairs(emb, threshold=threshold).agg(F.count(F.lit(1))).collect()[0][0]

        n_cand, n_ver = pairs(-1.0), pairs(COSINE_MIN)
        return {
            "operators.dedup.lsh.verified_over_candidates":
                float(np.median(self.lsh_ratio)) if self.lsh_ratio else 0.0,
            "operators.similarity.verified_over_candidates": n_ver / n_cand if n_cand else 0.0,
        }

    def op(self, i: int) -> OpResult:
        t0 = time.perf_counter()
        ok = self.run_batch(i)
        return OpResult(time.perf_counter() - t0, self.batch.n_docs, ok)

    def run_batch(self, i: int) -> bool:
        sp, tr, batch = self.spark, self.tracer, self.batch
        docs = sp.read.parquet(self.path("docs"))
        emb = sp.read.parquet(self.path("emb"))
        results: dict[str, float] = {}

        def lsh_then_jaccard() -> bool:
            with tr.span("operators.dedup.lsh_candidate_pairs") as s:
                r = _observed(D.lsh_candidate_pairs(docs),
                              lambda d: d.write.mode("overwrite").parquet(self.path("candidates")))
                s["rows"] = r["rows"]
            with tr.span("operators.dedup.ngram_jaccard_pairs") as s:
                cand = sp.read.parquet(self.path("candidates"))
                rows = D.ngram_jaccard_pairs(docs, cand, threshold=JACCARD_MIN).select("id_a", "id_b").collect()
                s["rows"] = len(rows)
            if r["rows"]:
                self.lsh_ratio.append(len(rows) / r["rows"])
            results["jaccard"] = _recall({(a, b_) for a, b_ in rows}, batch.near_pairs)
            return self.expect("jaccard recall >= floor", results["jaccard"] >= RECALL_FLOOR["jaccard"], True)

        def simhash() -> bool:
            with tr.span("operators.dedup.simhash_dup_pairs") as s:
                rows = D.simhash_dup_pairs(docs).select("id_a", "id_b").collect()
                s["rows"] = len(rows)
            results["simhash"] = _recall({(a, b_) for a, b_ in rows}, batch.near_pairs)
            return self.expect("simhash recall >= floor", results["simhash"] >= RECALL_FLOOR["simhash"], True)

        def exact() -> bool:
            with tr.span("operators.dedup.exact_duplicates") as s:
                rows = D.exact_duplicates(docs).select("keep_id", "n_dups").collect()
                s["rows"] = len(rows)
            return self.expect("exact groups", {(a, n) for a, n in rows}, batch.exact_groups)

        def embedding() -> bool:
            with tr.span("operators.similarity.embedding_dup_pairs") as s:
                rows = S.embedding_dup_pairs(emb, threshold=COSINE_MIN).select("id_a", "id_b").collect()
                s["rows"] = len(rows)
            results["embedding"] = _recall({(a, b_) for a, b_ in rows}, batch.vec_pairs)
            return self.expect("embedding recall >= floor",
                               results["embedding"] >= RECALL_FLOOR["embedding"], True)

        units = [lsh_then_jaccard, simhash, exact, embedding]
        rot = (self.seed + i) % len(units)  # op order rotates per run and op
        ok = True
        for unit in units[rot:] + units[:rot]:
            ok &= unit()
        print("recall " + " ".join(f"{k}={v:.4f}" for k, v in sorted(results.items())),
              file=sys.stderr)
        return bool(ok)


WORKLOADS = {"crawl_build": CrawlBuild, "window_queries": WindowQueries}
