"""Seeded input generators and the numpy references the output checks use.

Everything here is plain numpy/pyarrow: inputs are generated and staged
without Spark, and every reference is computed from the generated arrays by
a formulation of its own (floor, ``np.unique``, ``bincount``, a crossing-number
point-in-polygon), never by calling the package under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# crawls: two seeded, Zipf-skewed web crawls geocoded to points
# ---------------------------------------------------------------------------

EXTENT = 1024.0  # world extent of both crawls (cells at e=0 are unit squares)
BITS = 7  # block width 2^7 = 128 cells: the extent is 8 x 8 blocks
LEVELS = 5  # LoD pyramid depth (<= BITS, so pyramid_blocks stays block-local)
N_SITES = 400
SITE_ZIPF = 1.1


def _write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Stage ``table`` as ``files`` parquet files, so a scan splits into
    that many non-empty tasks (one row group per file)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def make_crawls(seed: int, pages_per_crawl: int) -> list[dict]:
    """Two crawls of ``pages_per_crawl`` pages each.

    Site popularity is Zipf(``SITE_ZIPF``) over ``N_SITES`` sites; each site
    sits at a seeded centre and its pages scatter around it. The lower half
    of the site ids has the same centre in both crawls, the upper half has a
    centre of its own per crawl, so the two footprints partly overlap.
    Returns per crawl the page coordinates ``x, y``, the text length ``tl``
    (what the references need) and ``site``, ``ti`` and ``pool`` from which
    :func:`stage_crawl` builds the ``url`` and ``text`` columns.
    """
    rng = np.random.default_rng([seed, 101])
    shared = rng.uniform(0.06, 0.94, size=(N_SITES, 2)) * EXTENT
    pool_words = np.array([f"w{i}" for i in range(2000)])
    pool = [
        " ".join(rng.choice(pool_words, size=int(k)))
        for k in rng.integers(4, 80, size=512)
    ]
    pool_len = np.array([len(t) for t in pool], dtype=np.int64)
    p = 1.0 / np.arange(1, N_SITES + 1) ** SITE_ZIPF
    p /= p.sum()
    crawls = []
    for c in range(2):
        own = rng.uniform(0.06, 0.94, size=(N_SITES, 2)) * EXTENT
        centres = np.where(np.arange(N_SITES)[:, None] < N_SITES // 2, shared, own)
        site = rng.choice(N_SITES, size=pages_per_crawl, p=p)
        spread = rng.uniform(4.0, 24.0, size=N_SITES)[site]
        xy = centres[site] + rng.normal(size=(pages_per_crawl, 2)) * spread[:, None]
        xy = np.clip(xy, 0.0, np.nextafter(EXTENT, 0.0))
        ti = rng.integers(0, len(pool), size=pages_per_crawl)
        crawls.append({
            "crawl": c, "site": site, "ti": ti, "pool": pool,
            "x": xy[:, 0], "y": xy[:, 1], "tl": pool_len[ti],
        })
    return crawls


def stage_crawl(crawl: dict, path: str, files: int) -> None:
    """Stage a crawl as pages ``(url, text, x, y)``. The url is
    ``https://site<s>.example/c<crawl>/page/<i>``; the text is one of the
    crawl's 512 pooled texts, stored dictionary-encoded."""
    n = len(crawl["x"])
    url = pc.binary_join_element_wise(
        "https://site", pc.cast(pa.array(crawl["site"]), pa.string()),
        f".example/c{crawl['crawl']}/page/", pc.cast(pa.array(np.arange(n)), pa.string()), "",
    )
    text = pa.DictionaryArray.from_arrays(pa.array(crawl["ti"], pa.int32()), pa.array(crawl["pool"]))
    _write_parquet(pa.table({"url": url, "text": text, "x": crawl["x"], "y": crawl["y"]}), path, files)


def stage_cells(levels: list, path: str, files: int) -> None:
    """Stage pyramid levels ``[(keys, height), ...]`` (level k at exponent
    k) as one samples table ``(cx, cy, e, height)``."""
    tbl = pa.concat_tables([
        pa.table({
            "cx": keys[:, 0], "cy": keys[:, 1],
            "e": np.full(len(h), e, dtype=np.int32), "height": h,
        })
        for e, (keys, h) in enumerate(levels)
    ])
    _write_parquet(tbl, path, files)


def _pack(keys: np.ndarray) -> np.ndarray:
    """Cell keys ``(n, 2)`` of non-negative ints as one int64 each, in the
    same (cx, cy) lexicographic order: 1-D ``np.unique`` is much faster than
    ``np.unique(axis=0)``."""
    return (keys[:, 0] << 32) | keys[:, 1]


def _unpack(packed: np.ndarray) -> np.ndarray:
    return np.stack([packed >> 32, packed & 0xFFFFFFFF], axis=1)


def _group_mean(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unique rows of ``keys`` (n, 2) and the mean of ``vals`` per row."""
    uk, inv = np.unique(_pack(keys), return_inverse=True)
    s = np.bincount(inv, weights=vals, minlength=len(uk))
    n = np.bincount(inv, minlength=len(uk))
    return _unpack(uk), s / n


class CrawlReference:
    """Expected outputs of one build pass over two crawls.

    ``levels[k]`` holds the occupied cells ``(cx, cy)`` at pyramid level k
    and their mean-of-defined-children height; level 0 is the merged base
    (crawl 1 wins a cell both crawls occupy). Cells are ``floor(x)``.
    """

    def __init__(self, crawls: list[dict]):
        per = []
        for c in crawls:
            keys = np.stack([np.floor(c["x"]), np.floor(c["y"])], axis=1).astype(np.int64)
            per.append(_group_mean(keys, c["tl"].astype(np.float64)))
        self.crawl_cells = [len(k) for k, _ in per]
        (k1, h1), (k2, h2) = per
        allk = np.concatenate([k1, k2])
        allh = np.concatenate([h1, h2])
        # first occurrence wins: np.unique returns the first index per key
        # (a stable sort), and crawl 1's rows come first
        uk, first = np.unique(_pack(allk), return_index=True)
        levels = [(_unpack(uk), allh[first])]
        for _ in range(LEVELS):
            k, h = levels[-1]
            levels.append(_group_mean(k >> 1, h))
        self.levels = levels

    def cells_per_level(self) -> list[int]:
        return [len(k) for k, _ in self.levels]


# ---------------------------------------------------------------------------
# window queries: seeded geometry + numpy answers over the merged base cells
# ---------------------------------------------------------------------------


def regular_polygon(rng: np.random.Generator, cx: float, cy: float, r: float, n: int = 7):
    """A regular CCW n-gon of circumradius ``r`` at a seeded rotation: the
    same area on every seed, with float vertices no cell centre lies on."""
    t0 = rng.uniform(0, 2 * np.pi / n)
    ang = t0 + 2 * np.pi * np.arange(n) / n
    return [(float(cx + r * np.cos(t)), float(cy + r * np.sin(t))) for t in ang]


def _in_polygon(px: np.ndarray, py: np.ndarray, verts) -> np.ndarray:
    """Even-odd crossing number (equals nonzero winding for simple polygons;
    vertices are random floats, so no cell centre lies on an edge)."""
    inside = np.zeros(px.shape, dtype=bool)
    n = len(verts)
    for j in range(n):
        x1, y1 = verts[j]
        x2, y2 = verts[(j + 1) % n]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cond & (px < xint)
    return inside


class WindowReference:
    """Numpy answers (row count, sum of height) for window queries."""

    def __init__(self, ref: CrawlReference):
        self.ref = ref
        k, h = ref.levels[0]
        self.cx, self.cy, self.h = k[:, 0], k[:, 1], h
        self.px, self.py = self.cx + 0.5, self.cy + 0.5

    def _answer(self, mask: np.ndarray) -> tuple[int, float]:
        return int(mask.sum()), float(self.h[mask].sum())

    def box(self, x0, y0, x1, y1):
        return self._answer((self.px >= x0) & (self.px <= x1) & (self.py >= y0) & (self.py <= y1))

    def polygon(self, verts):
        return self._answer(_in_polygon(self.px, self.py, verts))

    def line(self, ox, oy, dx, dy, dist):
        n = float(np.hypot(dx, dy))
        d = (dx / n) * (self.py - oy) - (dy / n) * (self.px - ox)
        return self._answer(np.abs(d) <= dist)

    def cell(self, qcx, qcy, qe):
        return self._answer(((self.cx >> qe) == qcx) & ((self.cy >> qe) == qcy))

    def knn(self, x, y, k):
        d = np.sqrt((self.px - x) ** 2 + (self.py - y) ** 2)
        order = np.lexsort((self.cy, self.cx, d))[:k]
        return len(order), float(self.h[order].sum())

    def lod(self, bx0, by0, bx1, by1, level):
        """Cells of ``level`` whose block (at ``BITS``) lies in the block
        window: what a LoD cut at ``level`` returns over a complete pyramid."""
        k, h = self.ref.levels[level]
        bx, by = k[:, 0] >> (BITS - level), k[:, 1] >> (BITS - level)
        m = (bx >= bx0) & (bx <= bx1) & (by >= by0) & (by <= by1)
        return int(m.sum()), float(h[m].sum())

    def random_point(self, rng: np.random.Generator) -> tuple[float, float]:
        """A point inside a random occupied base cell."""
        i = int(rng.integers(len(self.cx)))
        return float(self.px[i] + rng.uniform(-0.5, 0.5)), float(self.py[i] + rng.uniform(-0.5, 0.5))


# ---------------------------------------------------------------------------
# near-dup batches: Zipf-vocabulary documents with planted duplicates
# ---------------------------------------------------------------------------

VOCAB = 30_000
VOCAB_ZIPF = 1.07
EMB_DIM = 32


class DocBatch:
    """One seeded document batch plus matching embeddings.

    ``exact_groups``: planted groups of byte-identical documents, as
    ``(min id, group size)``. ``near_pairs``: planted near duplicates
    (a copy with about 4% of its tokens replaced), as ``(id_a, id_b)`` with
    ``id_a < id_b``. Each document's embedding is a random unit vector; an
    exact copy has the identical vector and a near copy a slightly
    perturbed one (cosine about 0.998), so ``vec_pairs`` are all planted
    pairs of both kinds.
    """

    def __init__(self, seed: int, index: int, n_base: int, dup_share: float = 0.10):
        rng = np.random.default_rng([seed, 202, index])
        words = np.array([f"t{i:05d}" for i in range(VOCAB)])
        p = 1.0 / np.arange(1, VOCAB + 1) ** VOCAB_ZIPF
        p /= p.sum()
        lens = rng.integers(60, 160, size=n_base)
        toks = rng.choice(VOCAB, size=int(lens.sum()), p=p)
        offs = np.concatenate([[0], np.cumsum(lens)])
        docs = [toks[offs[i]:offs[i + 1]] for i in range(n_base)]
        vecs = rng.normal(size=(n_base, EMB_DIM))
        n_exact = int(n_base * dup_share)
        n_near = int(n_base * dup_share)
        src_exact = rng.choice(n_base, size=n_exact, replace=False)
        src_near = rng.choice(n_base, size=n_near, replace=False)
        texts = [" ".join(words[d]) for d in docs]
        groups: dict[int, int] = {}
        near_pairs = []
        out_vecs = list(vecs)
        for s in src_exact.tolist():
            texts.append(texts[s])
            out_vecs.append(vecs[s])
            groups[s] = groups.get(s, 1) + 1
        for s in src_near.tolist():
            d = docs[s].copy()
            n_sub = max(1, int(round(len(d) * 0.04)))
            pos = rng.choice(len(d), size=n_sub, replace=False)
            d[pos] = (d[pos] + rng.integers(1, VOCAB, size=n_sub)) % VOCAB
            near_pairs.append((s, len(texts)))
            texts.append(" ".join(words[d]))
            noise = rng.normal(size=EMB_DIM)
            noise *= 0.06 * np.linalg.norm(vecs[s]) / np.linalg.norm(noise)
            out_vecs.append(vecs[s] + noise)
        self.n_docs = len(texts)
        self.texts = texts
        self.vecs = np.asarray(out_vecs)
        self.exact_groups = {(s, n) for s, n in groups.items()}
        self.near_pairs = set(near_pairs)
        # an exact copy's id -> its source, to express every planted vector pair
        exact_pairs = set()
        members: dict[int, list[int]] = {}
        for i, s in enumerate(src_exact.tolist()):
            members.setdefault(s, [s]).append(n_base + i)
        for ids in members.values():
            exact_pairs |= {(a, b) for a in ids for b in ids if a < b}
        self.vec_pairs = exact_pairs | self.near_pairs

    def stage(self, docs_path: str, emb_path: str, files: int) -> None:
        ids = np.arange(self.n_docs, dtype=np.int64)
        # shuffle rows so planted copies do not sit next to their sources
        perm = np.random.default_rng(self.n_docs).permutation(self.n_docs)
        _write_parquet(
            pa.table({"doc_id": ids[perm], "text": [self.texts[i] for i in perm]}),
            docs_path, files,
        )
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(self.n_docs + 1, dtype=np.int32)[: self.n_docs + 1] * EMB_DIM),
            pa.array(self.vecs[perm].reshape(-1)),
        )
        _write_parquet(pa.table({"vec_id": ids[perm], "embedding": emb}), emb_path, files)
