"""Text-analysis, dedup, and similarity operator units."""

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators import dedup as D
from aardvark_geometry_quadtree_spark.operators import similarity as S
from aardvark_geometry_quadtree_spark.operators import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (3, "der schnelle braune fuchs springt und der hund und die katze"),
        (4, "completely different content about spark query engines here now"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 13
    assert got[5] == 0


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["l"] for r in docs.select("doc_id", T.lang_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "en"
    assert got[3] == "de"
    assert got[5] == "und"


def test_quality_monotone_in_length(spark):
    df = spark.createDataFrame(
        [(0, "short text here"), (1, " ".join(["reasonable words with spacing"] * 30))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["q"] for r in df.select("doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= got[0] < got[1] <= 1.0


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "  hello world "), (2, "hello worlds")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_exact_duplicates(docs):
    dups = D.exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["keep_id"] == 0 and dups[0]["n_dups"] == 2


def test_minhash_table_and_lsh(docs):
    mh = D.minhash_table(docs, k=8)
    assert mh.count() == 6
    pairs = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(docs, k=8, bands=4).collect()}
    assert (0, 1) in pairs  # exact dups always collide in every band
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, D.lsh_candidate_pairs(docs, k=8, bands=4)).collect()}
    assert jac[(0, 1)] == 1.0
    if (0, 2) in jac:
        assert 0.5 < jac[(0, 2)] < 1.0


def _simhash16(text):
    """16-bit SimHash over whitespace tokens as one Column expression.

    Each token hashes to 16 bits (md5 prefix); bit b of the fingerprint is
    the sign of the sum over tokens of (2*bit_b - 1).
    """
    toks = F.split(F.trim(text), r"\s+")
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")  # noqa: E731

    def _mk_merge(b: int):
        # factory closure, not a default-arg lambda (acc, t, b=b): Spark
        # reads the lambda's arity, so the extra arg would make it a 3-arg
        # HOF lambda and silently rebind b to a Column
        return lambda acc, t: acc + (F.shiftright(h(t), b) % 2) * 2 - 1

    out = F.lit(0).cast("long")
    for b in range(16):
        bit_sum = F.aggregate(toks, F.lit(0).cast("long"), _mk_merge(b))
        out = out + F.when(bit_sum >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def test_simhash_near_for_near_dups(docs):
    sh = {r["doc_id"]: r["s"] for r in docs.select("doc_id", _simhash16(F.col("text")).alias("s")).collect()}
    ham = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham <= ham_far
    assert sh[0] == sh[1]


def test_simhash_dup_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_dup_pairs(docs, max_hamming=2).collect()}
    assert (0, 1) in pairs


def test_brute_force_topk(spark):
    rows = [(i, [1.0 if j == i % 4 else 0.1 for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = S.brute_force_topk(emb, [1.0, 0.1, 0.1, 0.1], k=5)
    got = top.collect()
    assert len(got) == 5
    assert got[0]["sim"] == 1.0  # vec 0 matches the query exactly
    assert got[0]["vec_id"] == 0


def test_ann_matches_brute_force_top1(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = [float((3 * 7 + j * 3) % 11 - 5) for j in range(8)]  # = vec 3's values
    bf = S.brute_force_topk(emb, q, k=1).collect()[0]
    ann = S.ann_topk(emb, q, k=1, n_planes=4).collect()[0]
    assert ann["vec_id"] == bf["vec_id"]
    assert ann["sim"] == bf["sim"] == 1.0


def test_topk_keeps_int_id_dtype(spark):
    """The scoring kernel takes the id type from the input schema: ``int``
    ids come back as ``int`` with the same top-k as ``bigint`` ids."""
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(100)]
    q = [float((3 * 7 + j * 3) % 11 - 5) for j in range(8)]  # = vec 3's values
    got = {}
    for id_type, dtype in (("int", "int"), ("long", "bigint")):
        emb = spark.createDataFrame(rows, f"vec_id {id_type}, embedding array<float>")
        for op, df in (("bf", S.brute_force_topk(emb, q, k=3)),
                       ("ann", S.ann_topk(emb, q, k=3, n_planes=4))):
            assert dict(df.dtypes)["vec_id"] == dtype
            got[id_type, op] = [tuple(r) for r in df.collect()]
    assert got["int", "bf"] == got["long", "bf"] and got["int", "ann"] == got["long", "ann"]
    assert got["int", "bf"][0] == got["int", "ann"][0] == (3, 1.0)


def _vectors(spark, n, dim):
    """``n`` seeded pseudo-random array<float> vectors of width ``dim``."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(dim)
        ]).cast("array<float>").alias("embedding"),
    )


def _edge_vectors(spark, planes):
    """Vectors on the ``>= 0`` boundary: the zero vector; a vector whose dot
    product with plane 0 is exactly 0 (two opposite-signed dims); and one
    whose dot product with plane 0 is 0 only in the sequential left-to-right
    order (2^54 - 1 rounds back to 2^54, then - 2^54 gives 0; summing the
    two 2^54 terms first gives -1, as a BLAS ``V @ P.T`` does)."""
    dim = len(planes[0])
    p0 = planes[0]
    d1 = 0
    d2 = next(d for d in range(1, dim) if p0[d] == -p0[d1])
    tie = [0.0] * dim
    tie[d1] = tie[d2] = 0.5
    order = [0.0] * dim
    order[0], order[1], order[2] = 2.0**54 * p0[0], -1.0 * p0[1], -(2.0**54) * p0[2]
    for v in (tie, order):
        acc = 0.0
        for x, y in zip(v, p0):
            acc += x * y
        assert acc == 0.0
    rows = [(-1, [0.0] * dim), (-2, tie), (-3, order)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("dim,bands,rows", [(32, 4, 16), (64, 2, 6)])
def test_band_keys_kernel_matches_catalyst(spark, band_keys, dim, bands, rows):
    """Differential guard of the one sign-LSH kernel: its band keys equal the
    Catalyst ``aggregate(zip_with(...))`` plane expressions bit for bit, at
    the corpus-scale 4 x 16 setting and `q_embed_dups`' 2 x 6, including the
    zero vector and exact-zero dot products (the ``>= 0`` tie)."""
    planes = S.hyperplanes(dim, bands * rows)
    emb = _vectors(spark, 200, dim).unionByName(_edge_vectors(spark, planes))
    names = [f"k{b}" for b in range(bands)]
    got = S._scored_arrow(emb, ["vec_id"], "embedding", planes, names)
    ref = emb.select(
        "vec_id",
        *[k.alias(nm) for k, nm in zip(band_keys(F.col("embedding"), planes, bands), names)],
    )
    assert got.dtypes == ref.dtypes
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    assert got.count() == 203
    edge = {r["vec_id"]: r for r in got.filter("vec_id < 0").collect()}
    assert all(edge[-1][nm] == (1 << rows) - 1 for nm in names)  # 0 >= 0 on every plane
    assert edge[-2]["k0"] & 1 and edge[-3]["k0"] & 1  # the plane-0 ties


def test_scored_arrow_rejects_ragged_vectors(spark):
    """A vector of the wrong width or a null vector fails the kernel with its
    named error instead of a reshape error or a silently shifted row."""
    planes = S.hyperplanes(3, 4)
    for rows in ([(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0, 4.0])],
                 [(0, [1.0, 2.0, 3.0]), (1, None)]):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        with pytest.raises(Exception, match="every embedding must hold 3 values"):
            S._scored_arrow(emb, ["vec_id"], "embedding", planes, ["bucket"]).collect()


def test_write_bucketed_buckets_match_catalyst(spark, lsh_bucket, tmp_path):
    """The bucket index's ``bucket`` directory key is the Catalyst sign-LSH
    bucket of every vector, and every row round-trips unchanged."""
    from aardvark_geometry_quadtree_spark.operators.similarity import write_bucketed

    planes = S.hyperplanes(16, 5)
    emb = _vectors(spark, 200, 16).unionByName(_edge_vectors(spark, planes))
    path = str(tmp_path / "annidx")
    write_bucketed(emb, path, n_planes=5)
    back = spark.read.parquet(path).select(
        "vec_id", "embedding", F.col("bucket").cast("long").alias("bucket"))
    ref = emb.select("vec_id", "embedding", lsh_bucket(F.col("embedding"), planes).alias("bucket"))
    assert back.exceptAll(ref).count() == 0 and ref.exceptAll(back).count() == 0
    assert back.count() == 203


def test_embedding_dup_pairs(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]), (2, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in S.embedding_dup_pairs(emb, threshold=0.95, n_planes=3).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_simhash_candidate_volume_subquadratic(spark):
    """Guard: on a skewed corpus (every doc shares boilerplate tokens) the
    banded 16-bit candidate join must stay far below the all-pairs count —
    the round-1 8-bit half-keys degenerated to O(n^2/256)."""
    n = 400
    # skew: every doc shares the same 3 hot boilerplate tokens, but content
    # is otherwise distinct (12 unique tokens) — NOT near-dups, so a good
    # LSH should produce almost no candidates despite the hot tokens
    uniq = ", ' ', ".join(f"md5(cast(id * {m} as string))" for m in
                          (1, 7, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47))
    docs = spark.range(n).selectExpr(
        "id as doc_id",
        f"concat('the of and ', {uniq}) as text",
    )
    t = D.simhash64_table(docs)
    # candidate volume = sum over (band, key) buckets of C(sz, 2)
    from pyspark.sql import functions as F
    parts = [t.select(F.col(f"sh{w}").alias("key"), F.lit(w).alias("band")) for w in range(4)]
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    buckets = keys.groupBy("band", "key").count().filter("count > 1")
    cand = buckets.selectExpr("sum(count * (count - 1) / 2) as c").collect()[0]["c"] or 0
    all_pairs = n * (n - 1) / 2
    assert cand < 0.01 * all_pairs, (cand, all_pairs)


def test_embedding_band_candidate_volume_subquadratic(spark):
    """Same guard for the banded sign-LSH embedding keys (16 planes/band)."""
    import math

    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.similarity import _scored_arrow, hyperplanes

    n, dim, bands, planes_per = 300, 32, 4, 16
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(dim)
        ]).alias("embedding"),
    )
    planes = hyperplanes(dim, bands * planes_per)
    # the keys embedding_dup_pairs joins on: the shipped kernel's
    keys = [f"k{b}" for b in range(bands)]
    ex = _scored_arrow(emb, [], "embedding", planes, keys).select(
        F.posexplode(F.array(*keys)).alias("band", "key")
    )
    buckets = ex.groupBy("band", "key").count().filter("count > 1")
    cand = buckets.selectExpr("sum(count * (count - 1) / 2) as c").collect()[0]["c"] or 0
    assert cand < 0.02 * (n * (n - 1) / 2) * bands, cand
    _ = math


def test_ann_bucketed_index_matches_ring_probe(spark, tmp_path):
    """write_bucketed + ann_topk_bucketed: the precomputed partition-pruned
    index returns the same top-k as the query-time ring probe, and the scan
    carries a bucket partition filter."""
    import math

    from pyspark.sql import functions as F

    from aardvark_geometry_quadtree_spark.operators.similarity import (
        ann_topk, ann_topk_bucketed, write_bucketed)

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)
            for d in range(16)
        ]).alias("embedding"),
    )
    q = [math.sin(d * 0.3) for d in range(16)]
    path = str(tmp_path / "annidx")
    write_bucketed(emb, path, n_planes=5)
    a = [(r.vec_id, r.sim) for r in ann_topk_bucketed(spark, path, q, k=5, n_planes=5).collect()]
    b = [(r.vec_id, r.sim) for r in ann_topk(emb, q, k=5, n_planes=5).collect()]
    assert a == b and len(a) == 5
    df = ann_topk_bucketed(spark, path, q, k=5, n_planes=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_winnow_fingerprints_guarantee_and_golden(spark):
    """Winnowing: (a) deterministic golden vs a literal Python recompute,
    (b) the k+w-1 guarantee — docs sharing a long substring share at least
    one fingerprint; unrelated docs (here) share none."""
    import hashlib

    from aardvark_geometry_quadtree_spark.operators.textstats import winnow_fingerprints

    k, w = 5, 4
    shared = "the winnowing guarantee holds for shared spans"
    rows = [
        (0, f"prefix alpha {shared} suffix one"),
        (1, f"other beginning {shared} different tail"),
        (2, "completely unrelated content with zero overlap at all"),
        (3, "tiny"),      # shorter than k -> no fingerprints (absent)
        (4, "sixchr"),    # k <= len < k+w-1 -> single-window fingerprint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: list(r["fingerprints"]) for r in winnow_fingerprints(df, k=k, w=w).collect()}

    def py_winnow(text):
        t = " ".join(text.lower().strip().split())
        if len(t) < k:
            return []
        hs = [int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:12], 16) for i in range(len(t) - k + 1)]
        if len(hs) < w:
            return sorted({min(hs)})
        return sorted({min(hs[i:i + w]) for i in range(len(hs) - w + 1)})

    for i, text in rows:
        if i == 3:
            assert i not in got
        else:
            assert got[i] == py_winnow(text), i
    assert set(got[0]) & set(got[1])        # shared span -> shared fingerprint
    assert not (set(got[0]) & set(got[2]))  # unrelated -> disjoint (here)
    assert len(got[4]) == 1


def test_embedding_dup_pairs_defaults_are_corpus_scale():
    """Regression pin (round-2 verdict): defaults must be the 16-bit x 4-band
    scale setting, not the O(n^2/256) toy key."""
    import inspect

    sig = inspect.signature(S.embedding_dup_pairs)
    assert sig.parameters["n_planes"].default == 16
    assert sig.parameters["bands"].default == 4


def test_word_shingles_regex_equivalence(spark):
    """r6 optimization guard: the single-regex-pass shingle extraction must
    reproduce the former arrays_zip formulation exactly, including whitespace
    edge cases (trim strips only spaces, so leading/trailing tabs/newlines
    produce empty edge tokens that join into the shingles)."""

    def shingles_zip(text, n=3):  # the pre-r6 reference formulation
        w = F.split(F.trim(text), r"\s+")
        shifted = [
            F.slice(w, i + 1, F.greatest(F.size(w) - i, F.lit(0))).alias(f"t{i}")
            for i in range(n)
        ]
        z = F.slice(F.arrays_zip(*shifted), 1, F.greatest(F.size(w) - (n - 1), F.lit(1)))
        grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]))
        return F.when(F.size(w) >= n, grams).otherwise(F.array(F.concat_ws(" ", w)))

    cases = [
        "", " ", "a", "a b", "a b c", "a b c d", "  a  b   c ", "\tfoo bar baz",
        "foo \t", "a\nb\nc\nd", "x " * 200, " lead", "trail ", "\t\t", "a  b",
        "one two three four five",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "doc_id long, text string")
    for n in (2, 3, 4):
        cmp = df.select(
            shingles_zip(F.col("text"), n).alias("old"),
            D.word_shingles(F.col("text"), n).alias("new"),
        )
        assert cmp.filter(F.col("old") != F.col("new")).count() == 0, f"n={n}"


def test_minhash_regex_shingle_equivalence(docs):
    """r6 optimization guard: minhash_table over the regex shingle pass must
    equal the per-instance md5 formulation over the pre-r6 zip-shingles
    bit-for-bit (the signature pipeline itself is unchanged; word_shingles
    is the optimized piece)."""
    k = 4
    ex = docs.select(F.col("doc_id"), F.explode(D.word_shingles(F.col("text"))).alias("_s"))
    ref = ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("_s"), F.lit(f"#{i}")))).alias(f"mh_{i}")
            for i in range(k)
        ]
    )
    got = D.minhash_table(docs, k=k)
    assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0


def test_simhash_kernel_equivalence(spark, docs):
    """r6 optimization guard: the mapInArrow simhash kernel must equal the
    explode + 64-bit-sum aggregate formulation bit-for-bit, including the
    null-text drop and empty-token edge cases."""

    def ref_simhash(df, id_col="doc_id", text_col="text"):
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("_t"))
        hexcol = F.md5(F.col("_t"))
        ex = ex.select(
            "id",
            *[
                F.conv(F.substring(hexcol, 4 * w + 1, 4), 16, 10).cast("long").alias(f"_w{w}")
                for w in range(4)
            ],
        )
        aggs = []
        for b in range(64):
            w, off = divmod(b, 16)
            aggs.append(F.sum((F.shiftright(F.col(f"_w{w}"), off) % 2) * 2 - 1).alias(f"_b{b}"))
        g = ex.groupBy("id").agg(*aggs)
        words = []
        for w in range(4):
            acc = F.lit(0).cast("long")
            for off in range(16):
                acc = acc + F.when(F.col(f"_b{w*16+off}") >= 0, F.lit(1 << off)).otherwise(
                    F.lit(0)
                )
            words.append(acc.alias(f"sh{w}"))
        out = g.select("id", *words)
        hexs = F.concat(*[F.lpad(F.lower(F.hex(F.col(f"sh{w}"))), 4, "0") for w in (3, 2, 1, 0)])
        return out.withColumn("simhash_hex", hexs).withColumnRenamed("id", id_col)

    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, " "), (3, "\tx y"), (4, "a")], "doc_id long, text string"
    )
    # two documents each longer than one bit-sum pass (so their batches are
    # too), next to short ones
    n_long = D._TOKENS_PER_PASS + 1000
    long_docs = spark.createDataFrame(
        [(i, " ".join(f"w{(t * 7919 + i) % 5000}" for t in range(n_long))) for i in range(2)]
        + [(10 + i, f"w{i} w{i + 1} short doc") for i in range(6)],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    all_null = spark.createDataFrame([(0, None), (1, None)], "doc_id long, text string")
    for df in (docs, edge, long_docs, empty, all_null):
        ref, got = ref_simhash(df), D.simhash64_table(df)
        assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0
        assert ref.count() == got.count()
    assert D.simhash64_table(long_docs).count() == 8
    assert D.simhash64_table(empty).count() == D.simhash64_table(all_null).count() == 0


def test_bit_sums_passes(monkeypatch):
    """The SimHash bit-sum passes against a one-shot integer sum: documents
    cut by pass boundaries, longer than a pass, and one token long."""
    import numpy as np

    rng = np.random.default_rng(8)
    for per_pass in (1, 2, 3, 7, 64):
        monkeypatch.setattr(D, "_TOKENS_PER_PASS", per_pass)
        for _ in range(20):
            nd, V = int(rng.integers(1, 30)), int(rng.integers(1, 20))
            ntok = rng.integers(1, 25, size=nd)
            idx = rng.integers(0, V, size=int(ntok.sum()))
            B = rng.integers(0, 2, size=(V, 64)).astype(np.uint8)
            starts = np.concatenate([[0], np.cumsum(ntok)[:-1]])
            ref = np.zeros((nd, 64), dtype=np.int64)
            np.add.at(ref, np.repeat(np.arange(nd), ntok), B[idx].astype(np.int64))
            got = D._bit_sums(B, idx, starts)
            assert got.dtype == np.int32 and (got == ref).all()
