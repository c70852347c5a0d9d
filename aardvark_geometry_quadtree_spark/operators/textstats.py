"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is pure Column arithmetic (JVM-side, codegen'd) designed
to be oracle-expressible in ANSI SQL: occurrence counting via
length-difference, token counting via regex split, hashing via md5 — so the
driver's DuckDB oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language for the n-gram-free heuristic language ID;
# chosen to be whole-word surrounded by spaces so occurrence counting is a
# pure length computation in any SQL engine
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def occurrences(text: Column, sub: str) -> Column:
    """Non-overlapping occurrence count of ``sub`` — (len(s) - len(replace))/len(sub)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish proxy; 0 for blank text)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(occurrences(padded, m) for m in markers).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax marker-stopword count, deterministic
    tie-break in fixed key order, 'und' (undetermined) when all zero."""
    scores = lang_scores(text)
    best = None
    best_score = None
    for lang in LANG_MARKERS:  # fixed order = deterministic tie-break
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    total = sum(scores.values())
    return F.when(total == 0, F.lit("und")).otherwise(best)


def quality_score(text: Column) -> Column:
    """Document quality in [0,1]: length saturation + space ratio sanity +
    alpha ratio. Deterministic, SQL-expressible arithmetic."""
    n = F.length(text)
    length_part = F.least(n / 500.0, F.lit(1.0))
    spaces = occurrences(text, " ").cast("double")
    space_ratio = F.when(n > 0, spaces / n).otherwise(F.lit(0.0))
    space_part = F.lit(1.0) - F.least(F.abs(space_ratio - 0.16) * 4.0, F.lit(1.0))
    score = F.round(length_part * 0.6 + space_part * 0.4, 6)
    return score.cast("double")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of normalized text (lowercased, trimmed,
    whitespace collapsed) — exact-dup key robust to whitespace formatting."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(F.encode(norm, "utf-8"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03): rolling
    character k-gram hashes, minimum per sliding window of ``w`` hashes,
    distinct + sorted per document. The standard LOCAL document
    fingerprint: any shared substring of length >= k + w - 1 between two
    documents is guaranteed to yield a shared fingerprint.

    Scale formulation: gram positions explode to rows (one md5 per gram,
    computed once), the window minimum is a SQL window frame (rows between
    current and w-1 following), and the distinct-set aggregation has
    map-side combine. An array-HOF formulation would re-evaluate the whole
    hash array per window element (Catalyst lambda subexpressions are not
    CSE'd) — O(len^2) per document; this one is O(len * w) across the
    cluster. Returns (id_col, fingerprints array<long>).
    """
    from pyspark.sql.window import Window as W

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    d = df.select(F.col(id_col), norm.alias("_t")).filter(F.length("_t") >= k)
    ex = d.select(
        id_col,
        "_t",
        F.explode(F.sequence(F.lit(1), F.length("_t") - (k - 1))).alias("_pos"),
        (F.length("_t") - (k - 1)).alias("_ngrams"),
    )
    gram = F.expr(f"substring(_t, _pos, {k})")
    h = F.conv(F.substring(F.md5(gram), 1, 12), 16, 10).cast("long")
    g = ex.select(id_col, "_pos", "_ngrams", h.alias("_h"))
    frame = W.partitionBy(id_col).orderBy("_pos").rowsBetween(0, w - 1)
    mins = (
        g.withColumn("_fp", F.min("_h").over(frame))
        # winnowing defines a window per FULL w-span only
        .filter(F.col("_pos") <= F.col("_ngrams") - (w - 1))
    )
    # short docs (k <= len < k+w-1): a single window over all grams
    short = (
        g.filter(F.col("_ngrams") < w)
        .groupBy(id_col)
        .agg(F.min("_h").alias("_fp"))
        .select(id_col, "_fp")
    )
    return (
        mins.select(id_col, "_fp")
        .unionByName(short)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_fp")).alias("fingerprints"))
    )

