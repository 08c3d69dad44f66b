"""Deduplication operators for large-scale training-data pipelines.

All variants are expressed with native Spark column expressions (hash
work stays in whole-stage codegen; the only shuffles are the final
groupBys). Where an operator must be oracle-checkable against DuckDB, the
hash primitive is md5 (identical on both engines) rather than murmur3.

- exact: hash-groupBy on normalized text
- MinHash: per-permutation min of md5(salt||word) (string min == a valid
  random-permutation min-hash), banded for LSH bucketing
- SimHash: bit-vote over word hashes
- n-gram Jaccard: shingle-set overlap between candidate pairs
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text


def words_array(col):
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def fingerprint(col):
    """Document fingerprint: md5 of normalized text (X-series analog)."""
    return F.md5(normalize_text(col))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicated fingerprint with count and representative min id."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def minhash_words(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perms: int = 4) -> DataFrame:
    """Word-level MinHash signature via md5 string-min per salt: one narrow
    projection, no explode needed (array_min over transform).

    The words array is STAGED in its own projection: each of the n_perms
    signature expressions references the `_w` alias, and CollapseProject
    refuses to inline a non-cheap alias referenced more than once
    (SPARK-36718), so split/lower/filter run ONCE per row instead of once
    per permutation. Higher-order functions are interpreted (CodegenFallback),
    so the n_perms-1 avoided regex splits are real per-row CPU (measured
    ~10% off the minhash_buckets headline at sf1.0)."""
    staged = docs.select(F.col(id_col), words_array(F.col(text_col)).alias("_w"))
    sig_cols = [
        F.array_min(F.transform(F.col("_w"), lambda x: F.md5(F.concat(F.lit(str(i) + "#"), x)))).alias(f"mh{i}")
        for i in range(n_perms)
    ]
    return staged.select(F.col(id_col), *sig_cols)


def minhash_buckets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perms: int = 4) -> DataFrame:
    """LSH bucket = the full signature (1 band of n rows at this size);
    returns buckets holding >1 doc — the candidate near-dup groups."""
    sigs = minhash_words(docs, id_col, text_col, n_perms)
    key = F.concat_ws("|", *[F.col(f"mh{i}") for i in range(n_perms)])
    return (
        sigs.select(F.col(id_col), key.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("bucket_size"), F.min(id_col).alias("keep_id"))
        .filter(F.col("bucket_size") > 1)
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over words: for each bit, sign of the vote sum of word
    hashes' bit values. Uses md5-derived bits (conv of hex nibbles) to stay
    engine-portable. bits<=16 keeps the expression tree small.

    Words array AND the per-word md5 are staged once (`_w`, `_h`): the
    `bits` vote expressions then share them via column refs instead of
    re-running split+md5 per bit (16x fewer regex splits AND md5 calls —
    CollapseProject keeps multi-referenced non-cheap aliases staged)."""
    staged = docs.select(
        F.col(id_col),
        F.transform(words_array(F.col(text_col)), lambda x: F.md5(x)).alias("_h"),
    )
    w = F.col("_h")
    bit_exprs = []
    for b in range(bits):
        # bit b of word hash = (hex nibble >> (b%4)) & 1 taken from nibble b//4
        nib = F.transform(w, lambda x: F.conv(F.substring(x, b // 4 + 1, 1), 16, 10).cast("int"))
        vote = F.aggregate(
            nib, F.lit(0), lambda acc, v: acc + (F.shiftright(v, b % 4) % 2) * 2 - 1
        )
        bit_exprs.append(F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    sig = bit_exprs[0]
    for e in bit_exprs[1:]:
        sig = sig + e
    return staged.select(F.col(id_col), sig.cast("long").alias("simhash"))


def word_shingles(col, n: int = 3):
    """Word n-gram shingles (distinct, '_'-joined).

    Built with zip_with over k-shifted copies of the word array rather
    than a per-index `slice(words, i, n)` lambda: Catalyst inlines the
    source-array subexpression into lambda bodies, so the slice form
    re-evaluates split() once PER ELEMENT — O(words²) per row and a ~40x
    slowdown on paragraph-sized text. zip_with walks the arrays once.
    """
    w = words_array(col)
    sh = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        sh = F.zip_with(
            sh,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat(a, F.lit("_"), b)),
        )
    if n > 1:
        sh = F.filter(sh, lambda x: x.isNotNull())
    # degenerate reference behavior: texts shorter than n words produce one
    # clipped shingle (the old sequence form emitted the whole text)
    short = F.array(F.array_join(w, "_"))
    return F.array_distinct(F.when(F.size(sh) > 0, sh).otherwise(short))


def word_shingles_hashed(col, n: int = 3):
    """Word n-gram shingles hashed to int64 (native xxhash64, cheap and
    codegen'd — md5+conv costs ~10x more CPU per shingle).

    Shuffle-friendly: a join/agg over hashed shingles moves 8-byte longs
    instead of full shingle strings — at 100 TB that is the difference
    between shuffling the corpus and shuffling a fingerprint of it.
    Oracle note: xxhash64 is Spark-internal, but any DERIVED set-overlap
    measure (Jaccard, intersection size) is hash-invariant modulo 64-bit
    collisions, so a DuckDB oracle can compute the same measure over the
    raw shingle strings and the values still match.
    """
    return F.array_distinct(
        F.transform(word_shingles(col, n), lambda s: F.xxhash64(s))
    )


def with_word_shingles_hashed(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, out_col: str = "sh"
) -> DataFrame:
    """DataFrame-level `word_shingles_hashed` with STAGED projections.

    The Column form duplicates the `words_array` subtree ~5x inside the
    zip_with chain and then the `when(size(sh)>0, sh)` guard duplicates the
    whole chain again — higher-order functions are interpreted
    (CodegenFallback), so each duplicate is a real per-row regex split +
    array walk. Staging `_w` and the raw chain `_sh0` as their own
    projections makes every later reference a cheap attribute read;
    CollapseProject keeps the stages separate because the aliases are
    non-cheap and referenced more than once (SPARK-36718). Semantics are
    IDENTICAL to word_shingles_hashed (same branch conditions, same
    distinct/hash composition) — pinned by tests against the Column form."""
    staged = docs.select(F.col(id_col), words_array(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    sh = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        sh = F.zip_with(
            sh,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat(a, F.lit("_"), b)),
        )
    if n > 1:
        sh = F.filter(sh, lambda x: x.isNotNull())
    staged2 = staged.select(F.col(id_col), w, sh.alias("_sh0"))
    short = F.array(F.array_join(F.col("_w"), "_"))
    final = F.when(F.size(F.col("_sh0")) > 0, F.col("_sh0")).otherwise(short)
    hashed = F.array_distinct(
        F.transform(F.array_distinct(final), lambda s: F.xxhash64(s))
    )
    return staged2.select(F.col(id_col), hashed.alias(out_col))


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Jaccard over word n-gram shingle sets for given candidate pairs
    (a, b). Pairs come from blocking (minhash_buckets) — never all-pairs."""
    sh = docs.select(F.col(id_col), word_shingles(F.col(text_col), n).alias("sh"))
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
