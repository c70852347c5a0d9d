"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k. Scale path: sign-LSH bucketing with
deterministic md5-derived hyperplanes (:func:`hyperplanes`: the same planes
in any engine and run, so the DuckDB oracle rebuilds them), probing only the
query's bucket ring. Embedding near-dup pairs use banded sign-LSH keys as
candidate generation. Every sign-LSH key, the query dot products and the
self-norms come from one ``mapInArrow`` numpy kernel (:func:`_scored_arrow`);
cosine verification and rounding stay in Catalyst.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine similarity rounded to ``decimals`` (stable across engines)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), decimals)


def _scored_arrow(
    embeddings: DataFrame,
    keep: list[str],
    vec_col: str,
    planes: list[list[float]] = (),
    keys: list[str] = (),
    query_vec: list[float] | None = None,
) -> DataFrame:
    """One ``mapInArrow`` scoring pass over the flat Arrow list buffer.

    Emits the ``keep`` columns unchanged (types from the input schema), then
    one sign-LSH key column per name in ``keys`` — the planes split evenly
    over the keys, bit j of key b = (vec . planes[b * rows + j]) >= 0 with
    rows = len(planes) // len(keys) — and, when ``query_vec`` is given,
    ``dotq`` (vec . query) and ``normsq`` (vec . vec).

    Why not Catalyst: the HOF ``aggregate(zip_with(...))`` dot product is
    interpreted per ELEMENT (boxed doubles on the JVM heap), and each plane
    is its own expression tree: 64 band-key planes took seconds of query
    planning before the first job started. The kernel does the same
    arithmetic in C (the 6-plane ANN scan measured 1.08s -> 0.46s at bench
    sf1.0).

    FP-exactness contract: accumulation loops SEQUENTIALLY over dimensions
    (``acc += v[:, i] * p[i]``, one elementwise multiply and add per plane),
    reproducing the HOF's left-to-right summation order bit-for-bit — NOT a
    numpy ``dot``/``sum``, whose pairwise/SIMD summation would differ in the
    last bit and flip signs on ties or rounded values. Division/rounding
    stay in Catalyst (callers), so rounding semantics are Spark's.
    Differential-tested against the Catalyst plane expressions
    (tests/conftest.py): band keys, ANN buckets and rounded sims identical.

    Contract: fixed-dimension, null-free vectors (dim = len(query_vec), or
    the plane width) — the embedding-table format this module defines; a
    batch that breaks it raises ``ValueError``.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    qn = None if query_vec is None else np.array(query_vec, dtype=np.float64)
    dim = len(query_vec) if query_vec is not None else len(planes[0])
    P = np.array(planes, dtype=np.float64).reshape(len(planes), dim)
    rows = len(planes) // max(len(keys), 1)
    weights = np.int64(1) << np.arange(rows, dtype=np.int64)
    out_schema = StructType(
        [StructField(c, embeddings.schema[c].dataType) for c in keep]
        + [StructField(k, LongType()) for k in keys]
        + ([] if qn is None else [StructField("dotq", DoubleType()), StructField("normsq", DoubleType())])
    )
    out_names = out_schema.fieldNames()

    def _score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vecs = b.column(vec_col)
            if not (vecs.value_lengths().to_numpy(zero_copy_only=False) == dim).all():
                raise ValueError(f"_scored_arrow: every {vec_col} must hold {dim} values")
            V = vecs.flatten().to_numpy().astype(np.float64, copy=False).reshape(n, dim)
            D = np.zeros((n, len(P)))
            dq = np.zeros(n)
            ns = np.zeros(n)
            for i in range(dim):  # sequential over dims: exact HOF FP order
                vi = V[:, i]
                D += vi[:, None] * P[:, i]
                if qn is not None:
                    dq += vi * qn[i]
                    ns += vi * vi
            bits = (D[:, : rows * len(keys)] >= 0).reshape(n, len(keys), rows)
            kv = (bits * weights).sum(axis=2)
            cols = [b.column(c) for c in keep] + [pa.array(kv[:, j]) for j in range(len(keys))]
            if qn is not None:
                cols += [pa.array(dq), pa.array(ns)]
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    # small single-row-group embedding tables scan as ONE non-empty task;
    # spread before the kernel (see dedup._spread)
    from .dedup import _spread

    cols = list(dict.fromkeys([*keep, vec_col]))
    return _spread(embeddings.select(*cols)).mapInArrow(_score, out_schema)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: one Arrow-kernel scoring scan
    (:func:`_scored_arrow`), then partial top-k per partition via Spark's
    ORDER BY + LIMIT (TakeOrderedAndProject — no full sort shuffle).
    Deterministic tie-break on id."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sc = _scored_arrow(embeddings, [id_col], vec_col, query_vec=query_vec)
    sim = F.round(F.col("dotq") / (F.sqrt(F.col("normsq")) * norm(q)), 6)
    return (
        sc.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(seed, plane, dim-index) — no RNG
    state, identical in any engine/run (the DuckDB oracle rebuilds them)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:4], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``max_hamming`` bits of the query's bucket (bucket ring probe). At scale
    the bucket column is precomputed and the table is partitioned by it, so
    the probe is a pruned scan of 1 + n_planes partitions instead of 100 TB.
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qb = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << p
    probe = _probe_ring(qb, n_planes, max_hamming)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # bucket + query-dot + self-norm in ONE Arrow kernel scan (same values
    # as the HOF formulation bit-for-bit — see _scored_arrow)
    sc = _scored_arrow(embeddings, [id_col], vec_col, planes, ["bucket"], query_vec)
    sim = F.round(F.col("dotq") / (F.sqrt(F.col("normsq")) * norm(q)), 6)
    return (
        sc.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def _probe_ring(qb: int, n_planes: int, max_hamming: int) -> list[int]:
    """Multi-probe bucket ring: all buckets within ``max_hamming`` bit flips."""
    probe = [qb]
    if max_hamming >= 1:
        probe += [qb ^ (1 << p) for p in range(n_planes)]
    if max_hamming >= 2:
        probe += [
            qb ^ (1 << p) ^ (1 << r) for p in range(n_planes) for r in range(p + 1, n_planes)
        ]
    return probe


def write_bucketed(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Precompute the ANN index: LSH bucket per vector, written as a
    bucket-partitioned parquet table. This is the 100 TB path the query-time
    scan cannot be: ``ann_topk_bucketed`` reads only the probed partitions
    (partition pruning on the ``bucket`` directory key — 1 + n_planes
    directories out of 2^n_planes), never the full table."""
    if dim is None:
        dim = embeddings.select(F.size(vec_col)).first()[0]
    planes = hyperplanes(dim, n_planes, seed)
    b = _scored_arrow(embeddings, embeddings.columns, vec_col, planes, ["bucket"])
    # one directory per bucket; within a bucket, files stay row-grouped for
    # the scan. repartition by bucket so each partition writes one directory.
    b.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_bucketed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_hamming: int = 1,
) -> DataFrame:
    """ANN top-k over a ``write_bucketed`` index: the bucket ring filter is a
    partition-pruning predicate on the parquet directory key, so only the
    probed buckets are read (check ``.explain``: the scan's partitionFilters
    carry ``bucket IN (...)``)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qb = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << p
    probe = _probe_ring(qb, n_planes, max_hamming)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates from banded sign-LSH
    equi-self-joins, verified by exact cosine >= threshold.

    ``n_planes`` is the PER-BAND key width and ``bands`` the number of
    independent bands (total signature = bands * n_planes planes). Bands
    trade recall for candidate volume: a pair is a candidate if ANY band
    key matches. The DEFAULTS are the corpus-scale setting (16-bit keys x
    4 bands): 65536 bucket values per band keeps each equi-join bucket
    ~n/65536 — sub-quadratic at 10^9 vectors (guard-tested) — and 4 bands
    recover the recall the wider key costs. Small exploratory corpora may
    prefer narrower keys (e.g. n_planes=6, bands=2) for recall at tiny n,
    as the sf0.01 driver query does explicitly.

    All band keys come from ONE :func:`_scored_arrow` pass (a ``MapInArrow``
    in the plan, whatever the plane count), exploded to (band, key) rows for
    the self-join; only the candidate pairs' cosine runs in Catalyst.
    """
    dim = embeddings.select(F.size(vec_col)).first()[0]
    planes = hyperplanes(dim, bands * n_planes, seed)
    keys = [f"key_{i}" for i in range(bands)]
    b = _scored_arrow(embeddings, [id_col, vec_col], vec_col, planes, keys).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(F.array(*keys)).alias("band", "key"),
    )
    a = b.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "band", "key")
    c = b.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "band", "key")
    return (
        a.join(c, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .distinct()
    )
