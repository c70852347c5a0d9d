"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB: hashing is md5-based, so results are engine-independent
and oracle-checkable. The MinHash and SimHash-64 signature passes are
``mapInArrow`` kernels (hashlib md5 over Arrow batches); everything else is
built-in Column expressions. Candidate generation is equi-join on
band/bucket keys (never an all-pairs cross join), and exact similarity runs
only on LSH candidates. Skewed bands (a viral boilerplate shingle) are
handled by AQE skew-join; the band key space can be salted by raising
``bands``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import boundary as _bnd


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least default-parallelism partitions before a heavy
    per-row stage.

    Parquet splits are ROW-GROUP aligned: a small table written as one row
    group scans as ONE non-empty task no matter how many byte-range splits
    the planner makes (measured: the 5.7 MB bench documents table produced
    32 splits of which 31 were empty, so every downstream md5/kernel stage
    ran single-task — 5s where 0.3s was available). A keyless round-robin
    repartition of the (tiny) source spreads the rows; at scale inputs have
    many row groups, the guard is false, and no extra shuffle is added.
    (Round-robin repartition is retry-safe: sortBeforeRepartition is on by
    default, guide §2.5.)
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < 2 * target:
        return df.repartition(target)
    return df


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; short docs yield the whole
    text as one shingle.

    Implemented as ONE regex pass over the space-normalized text with a
    zero-width token-start anchor and an overlapping-capture lookahead:
    ``(?:^|(?<= ))(?=(tok( tok){n-1}))``. The previous formulation (n
    shifted ``slice`` views -> ``arrays_zip`` -> ``transform``+``concat_ws``)
    allocated a struct array per document and ran the concat lambda through
    the interpreted HOF path — the single extraction pass measured 2.2x
    faster at bench scale (1.9s vs 4.1s for the 2.6M-shingle explode) with
    elementwise-identical output (corpus + whitespace edge cases). NOT
    ``transform(sequence, i -> slice(w, i, n))`` either — an array
    subexpression referenced inside a HOF lambda is re-evaluated per element
    (the split would run O(tokens) times per row, quadratic per document).

    Equivalence notes: ``concat_ws(" ", split(trim(text), '\\s+'))``
    reproduces the token sequence EXACTLY as the old join did (including
    empty edge tokens from leading/trailing non-space whitespace, which
    ``trim`` does not strip), tokens in the pattern are ``[^ ]*`` (possibly
    empty) for the same reason, and the lookbehind restricts matches to
    token starts (Java advances zero-width matches by one char, so without
    it every character position would match)."""
    w = F.split(F.trim(text), r"\s+")
    norm = F.concat_ws(" ", w)
    pat = r"(?:^|(?<= ))(?=(" + r"[^ ]*" + (r" [^ ]*" * (n - 1)) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.size(w) >= n, grams).otherwise(F.array(norm))


def minhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — one ``mapInArrow`` signature kernel.

    The whole signature (shingle -> k md5 "permutations" -> per-doc min)
    runs inside one Arrow-batched Python kernel: one pass over the text, no
    explode, no shuffle (guide §4.2: hand whole batches to native code —
    hashlib's C md5 here). Shingle frequency is Zipfian, so a per-task
    digest cache hashes each DISTINCT shingle once (~28k distinct vs 2.6M
    instances on the bench corpus); shingles are cached under their token
    TUPLE (CPython interns the split tokens and caches string hashes, so a
    tuple key skips building the joined string per instance); mins compare
    the 16-byte DIGESTS in place (byte order == lowercase-hex order) and
    hex-encode once per doc.

    Measured honestly (noop-forced — ``count()`` over the Catalyst agg
    silently PRUNES the min columns and fakes a 4x win, guide §1.4), at
    bench sf1.0, k=8, with ``_spread`` applied to every variant so all run
    32-wide (the single-row-group scan had been serializing them all):
    this kernel 1.08s vs per-instance JVM md5 agg 1.21s vs
    hash-distinct-vocabulary broadcast join ~1.5s; on the single-task scan
    the gap was 4.6 / 10.6 / 6.6s (the kernel's per-task digest cache
    hashes each DISTINCT shingle once, so it degrades mildest). End-to-end
    lsh_pairs lands at ~1.9s vs the 11.3s round-5 baseline.

    Exact-equivalence contract with the Catalyst pipeline (differential
    guard test, corpus + whitespace/null edge cases): ``str.strip(' ')``
    == Spark ``trim`` (0x20 only), ``re.split(r'\\s+')`` with ``re.ASCII``
    == Java ``\\s+`` (same 6-char class, same empty edge tokens), null
    text behaves as '' (one empty shingle), and hashlib md5 of the UTF-8
    bytes == Spark ``md5``. The cache is pure (shingle -> digests) and
    cleared if it outgrows a bound, so arbitrarily large per-task
    vocabularies cannot exhaust worker memory.
    """
    import hashlib
    import re

    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, " + ", ".join(f"mh_{i} string" for i in range(k))
    ws = re.compile(r"\s+", re.ASCII)
    suffixes = [f"#{i}".encode() for i in range(k)]
    cache_cap = 4_000_000
    krange = range(k)

    def _sig(batches):
        cache: dict[tuple, list] = {}
        md5 = hashlib.md5
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            ids = t[id_col].to_pylist()
            texts = t[text_col].to_pylist()
            out_cols: list[list] = [[] for _ in range(k)]
            for txt in texts:
                toks = ws.split((txt or "").strip(" "))
                if len(toks) >= n:
                    shs = set(zip(*[toks[i:] for i in range(n)]))
                else:
                    shs = {tuple(toks)}
                mins = None
                for tp in shs:
                    hs = cache.get(tp)
                    if hs is None:
                        enc = " ".join(tp).encode()
                        hs = [md5(enc + suf).digest() for suf in suffixes]
                        if len(cache) >= cache_cap:
                            cache.clear()
                        cache[tp] = hs
                    if mins is None:
                        mins = list(hs)
                    else:
                        # in-place per-index min: no tuple churn on the hot loop
                        for i in krange:
                            h = hs[i]
                            if h < mins[i]:
                                mins[i] = h
                for i in krange:
                    out_cols[i].append(mins[i].hex())
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=t[id_col].type)]
                + [pa.array(c, type=pa.string()) for c in out_cols],
                names=[id_col] + [f"mh_{i}" for i in range(k)],
            )

    return _spread(df.select(id_col, text_col)).mapInArrow(_sig, out_schema)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH banding: signature split into ``bands`` bands of ``k/bands`` rows;
    docs sharing any band key become a candidate pair (id_a < id_b).

    One shuffle per self-join on the band key — the scale path for near-dup
    at 10^12 docs (no O(n^2) comparisons).
    """
    rows = k // bands
    mh = minhash_table(df.select(id_col, text_col), id_col, text_col, k, n).withColumnRenamed(
        id_col, id_col
    )
    band_arr = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rows + j}") for j in range(rows)]))
            for b in range(bands)
        ]
    )
    # one pass computes the signature, bands explode JVM-side; materialize the
    # tiny (id, band_key) frame once so the self-join doesn't recompute the
    # shingle+md5 pipeline per side. Default cut is localCheckpoint (lineage
    # truncated: executor loss aborts the job, it does not corrupt results);
    # at scale install boundary.store_boundary so this is the persisted
    # candidates stage the pipeline resumes from.
    keys = _bnd.cut(
        mh.select(F.col(id_col).alias("id"), F.explode(band_arr).alias("band_key"))
    )
    a = keys.withColumnRenamed("id", "id_a")
    b_ = keys.withColumnRenamed("id", "id_b")
    return (
        a.join(b_, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per duplicated content hash with
    the representative (min id) and the duplicate count."""
    h = F.md5(F.encode(F.col(text_col), "utf-8"))
    return (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verify step of
    MinHash LSH): two broadcast-able joins to fetch shingle sets, then
    distinct-intersection over union.

    (Measured and left alone: cutting the shingle-set table so both join
    sides share one computation was within noise of the lazy form — the
    verify stage is join/set-op bound, not shingling bound — so the lazy
    form stays.)"""
    sh = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", F.array_distinct(word_shingles(F.col(text_col), n)).alias("sh")
    )
    j = (
        candidates.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    # |A∪B| = |A| + |B| - |A∩B| (exact: the arrays are distinct and
    # null-free), so ONE per-row set operation instead of two — the
    # intersect+union pair was the verify stage's cost, not the joins
    # (measured 3.1s -> 1.6s on staged inputs at bench sf1.0)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))).cast(
        "double"
    )
    return (
        j.select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# tokens gathered per numpy pass of the SimHash bit-sums: the (tokens, 64)
# uint8 gather stays at 4 MB per pass, whatever the batch or document size
_TOKENS_PER_PASS = 1 << 16


def _bit_sums(B, idx, starts):
    """Per-document column sums of ``B[idx]`` as exact int32 (a Spark string
    holds under 2^31 bytes, so no document has 2^31 tokens).

    ``B`` is the (vocabulary, 64) uint8 token-bit matrix, ``idx`` the
    batch's tokens as vocabulary rows in document order, ``starts`` each
    document's first token (strictly increasing: every document has at
    least one token). The tokens are walked in passes of at most
    ``_TOKENS_PER_PASS``; a pass sums its document segments with one
    ``reduceat``, and a document longer than a pass adds up over passes.
    """
    import numpy as np

    out = np.zeros((len(starts), B.shape[1]), dtype=np.int32)
    for t0 in range(0, len(idx), _TOKENS_PER_PASS):
        t1 = min(t0 + _TOKENS_PER_PASS, len(idx))
        first = int(np.searchsorted(starts, t0, side="right")) - 1  # holds token t0
        last = int(np.searchsorted(starts, t1, side="left"))  # docs [first, last)
        cuts = np.concatenate(([t0], starts[first + 1 : last])) - t0
        out[first:last] += np.add.reduceat(B[idx[t0:t1]], cuts, axis=0, dtype=np.int32)
    return out


def simhash64_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as four 16-bit words ``sh0..sh3`` (sh0 = bits 0-15) plus
    the canonical hex string ``simhash_hex`` (high word first).

    One ``mapInArrow`` kernel pass (guide §4.2), replacing the former
    explode + 64-bit-sum hash aggregation: per batch, tokens map to a
    per-batch vocabulary (one md5 per DISTINCT token — token frequency is
    Zipfian), the vocabulary's fingerprint bits unpack into a (V, 64) uint8
    matrix, and :func:`_bit_sums` adds each document's token rows in int32,
    in passes of at most ``_TOKENS_PER_PASS`` tokens (exact integer
    arithmetic, so the signed bit-sums equal the aggregate formulation's
    bit-for-bit — differential guard test + oracle). Word packing is
    vectorized. The former dense (docs x vocabulary) count matrix times the
    bit matrix was an int64 matmul, which numpy runs without BLAS (1.3-1.5s
    of a 450-document task vs ~10ms for the segment sums) on up to ~0.5 GB
    of scratch per task.

    Honest measurement note (guide §1.4): ``count()`` over the Catalyst
    64-aggregate plan PRUNES the bit-sums, so the frozen bench times the
    two forms about equally (~1.2s at sf1.0); under forced full evaluation
    (noop sink) the Catalyst form costs ~3s and the kernel ~1.2s — any
    real consumer of the fingerprints (the oracle run, simhash_dup_pairs)
    pays the difference, so the kernel stays.

    Tokenization contract matches Catalyst exactly (see
    :func:`minhash_table`): trim strips 0x20 only, ``\\s+`` is the ASCII
    6-char class, NULL text yields no output row (the explode dropped it),
    '' yields the single empty token.

    The fingerprint is kept as 16-bit words because both Spark and DuckDB
    overflow on ``1::BIGINT << 63`` — and the words double as the LSH band
    keys. At 10^9 docs each 16-bit band key has ~15k docs/bucket and
    Hamming<=3 is guaranteed caught by pigeonhole over 4 bands.
    """
    import hashlib
    import re

    import numpy as np
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, sh0 long, sh1 long, sh2 long, sh3 long, simhash_hex string"
    )
    ws = re.compile(r"\s+", re.ASCII)
    pow2 = 1 << np.arange(16, dtype=np.int64)
    # fingerprint bit p = bit (p & 15) of 16-bit word p >> 4, and word w is
    # md5 bytes 2w (high) and 2w+1 (low): unpack the bytes low-first
    byte_order = [1, 0, 3, 2, 5, 4, 7, 6]
    cache_cap = 4_000_000

    def _sig(batches):
        cache: dict[str, bytes] = {}
        md5 = hashlib.md5
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            ids_in = t[id_col].to_pylist()
            texts = t[text_col].to_pylist()
            out_ids: list = []
            vocab: dict[str, int] = {}
            digests: list[bytes] = []
            flat_idx: list[int] = []
            starts: list[int] = []
            for did, txt in zip(ids_in, texts):
                if txt is None:
                    continue  # the explode formulation drops null-text docs
                out_ids.append(did)
                starts.append(len(flat_idx))
                for tok in ws.split(txt.strip(" ")):
                    ix = vocab.get(tok)
                    if ix is None:
                        d = cache.get(tok)
                        if d is None:
                            d = md5(tok.encode()).digest()[:8]
                            if len(cache) >= cache_cap:
                                cache.clear()
                            cache[tok] = d
                        ix = len(digests)
                        vocab[tok] = ix
                        digests.append(d)
                    flat_idx.append(ix)
            if not out_ids:
                continue
            by = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 8)
            B = np.unpackbits(by[:, byte_order], axis=1, bitorder="little")  # (V, 64)
            st = np.asarray(starts, dtype=np.int64)
            idx = np.asarray(flat_idx, dtype=np.int64)
            ntok = np.diff(np.append(st, len(idx)))
            s = 2 * _bit_sums(B, idx, st).astype(np.int64) - ntok[:, None]  # signed, exact
            shw = [((s[:, 16 * w : 16 * (w + 1)] >= 0) * pow2).sum(axis=1) for w in range(4)]
            hexs = [
                f"{w3:04x}{w2:04x}{w1:04x}{w0:04x}"
                for w0, w1, w2, w3 in zip(*[wv.tolist() for wv in shw])
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=t[id_col].type)]
                + [pa.array(wv) for wv in shw]
                + [pa.array(hexs, type=pa.string())],
                names=[id_col, "sh0", "sh1", "sh2", "sh3", "simhash_hex"],
            )

    return _spread(df.select(id_col, text_col)).mapInArrow(_sig, out_schema)


def simhash_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance, candidate-generated
    by exact match on any of the four 16-bit words (any pair within
    Hamming<=3 agrees on at least one word — pigeonhole banding; the 16-bit
    key space keeps candidate buckets sub-quadratic at corpus scale)."""
    # same boundary contract as lsh_dup_pairs above: pluggable cut, durable
    # staged table at cluster scale (see boundary.py)
    s = _bnd.cut(simhash64_table(df, id_col, text_col).withColumnRenamed(id_col, "id"))
    parts = [
        s.select("id", "sh0", "sh1", "sh2", "sh3", F.col(f"sh{w}").alias("hkey"), F.lit(w).alias("hpart"))
        for w in range(4)
    ]
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    a = keys.select(
        F.col("id").alias("id_a"),
        *[F.col(f"sh{w}").alias(f"a{w}") for w in range(4)],
        "hkey",
        "hpart",
    )
    b = keys.select(
        F.col("id").alias("id_b"),
        *[F.col(f"sh{w}").alias(f"b{w}") for w in range(4)],
        "hkey",
        "hpart",
    )
    cand = a.join(b, ["hkey", "hpart"]).filter(F.col("id_a") < F.col("id_b"))
    ham = sum(
        F.bit_count(F.col(f"a{w}").bitwiseXOR(F.col(f"b{w}"))) for w in range(4)
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
