"""Stage D: entity linking — deterministic MinHash-LSH blocking over
mention shingles + batched pair scoring (north_rule; SURVEY.md §7.1).

Spark-first design, tuned from profiling (see BENCH notes):
- signatures are map-only: a batch-vectorized numpy MinHash kernel over
  char k-grams behind an Arrow pandas UDF. No explode, no groupBy, no
  shuffle. At 10^12 docs this is the difference between a map-only stage
  and a petabyte shuffle.
- LSH banding (b bands × r rows) buckets candidates; blocks larger than
  `block_cap` are dropped (hot-key/skew mitigation: a mega-block from a
  high-frequency surface form would contribute O(n²) pairs).
- pair scoring (`score_blocks`) uses the MinHash signature-agreement
  estimator (fraction of equal slots ≈ Jaccard, unbiased), computed
  inside each block by a numpy kernel — no pair set and no shingle
  arrays are ever materialized.

Deterministic: hand-rolled murmur3 (`F.hash`) rather than pyspark.ml
MinHashLSH whose seeds are not pinned across versions (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text
from ..operators.sorted_groups import complete_groups

DEFAULT_PERMS = 32
# 5 bands x 6 rows (30 of 32 slots): P(candidate | j=0.9) ≈ 98% while
# mid-similarity noise pairs (j≈0.5) only block at ~8% — an order of
# magnitude fewer candidates than r=4 banding on vocabulary-correlated
# corpora. Precision comes from the cheap signature-agreement scorer.
DEFAULT_BANDS = 5


def _perm_coeffs(n_perms: int, seed: int = 42):
    """Deterministic multiply-add hash coefficients (LCG-derived).

    Hashing is h_i(x) = a_i * x + b_i with natural uint64 wraparound —
    no modulo: numpy has no vectorized 64-bit integer division, so a mod-
    prime family is ~100x slower. Multiply-add wraparound (odd a_i) is the
    standard practical MinHash family (2-universal, well-mixed high bits).
    """
    a, b = [], []
    state = seed
    mask = (1 << 64) - 1
    for _ in range(n_perms):
        state = (6364136223846793005 * state + 1442695040888963407) & mask
        a.append(state | 1)  # odd multiplier
        state = (6364136223846793005 * state + 1442695040888963407) & mask
        b.append(state)
    return a, b


_KERNEL_BUFS: dict = {}


def _kernel_buf(name: str, size: int):
    """Worker-lifetime int64 scratch buffer (grown geometrically). NEVER
    returned to callers — only `out` rows leave the kernel, and those are
    freshly allocated per batch."""
    import numpy as np

    arr = _KERNEL_BUFS.get(name)
    if arr is None or arr.size < size:
        cap = 1 << max(int(size - 1).bit_length(), 10)
        _KERNEL_BUFS[name] = arr = np.empty(cap, dtype=np.int64)
    return arr[:size]


def _minhash_kernel(texts, n_perms: int, k: int, max_chars: int):
    """Batch-vectorized MinHash: char k-gram codes → min((a*x+b) mod p).

    The whole Arrow batch is processed as ONE numpy computation: all rows'
    k-gram codes are concatenated, hashed for every permutation in a
    single (n_perms, G) broadcast, and reduced per row with
    np.minimum.reduceat — no per-row Python. Deterministic at any
    parallelism. (Spark's higher-order array lambdas are interpreted, not
    codegen'd, which is why this is a pandas UDF and not a native expr.)
    """
    import numpy as np

    # the interleaved reduceat offsets below assume at least one discard
    # slot per row (valid_end < row end); with k=1 the final offset would
    # equal len(gram) and reduceat would raise out-of-bounds
    assert k >= 2, "_minhash_kernel requires shingle size k >= 2"

    a, b = _perm_coeffs(n_perms)
    # int64 throughout: this numpy build has no SIMD kernel for uint64
    # multiply (~100x slower); two's-complement wraparound is bit-identical
    # and signed min is an equally valid fixed total order for min-wise
    # selection (the scorer compares slot equality only).
    to_i64 = lambda xs: np.array([x - (1 << 64) if x >= (1 << 63) else x for x in xs], dtype=np.int64)
    a = to_i64(a)
    b = to_i64(b)

    # Per-row Python is ONLY string normalization + encode (~3us/row);
    # every numpy op below runs over the whole batch at once. The previous
    # kernel built ~5 small arrays per row — at 186us/row of allocator
    # overhead that was 50x the actual hash math.
    enc: list[bytes] = []
    for t in texts:
        norm = " ".join((t or "").lower().split())[:max_chars]
        if len(norm) < k:
            norm = norm + "\x00" * (k - len(norm))
        enc.append(norm.encode("utf-8", "replace"))
    if not enc:
        return []
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    total = int(lens.sum())
    joined = b"".join(enc) + b"\x00" * (k - 1)
    # worker-lifetime buffer pool: first-touch page faults on this VM cost
    # ~50x the arithmetic (1.35s vs 26ms for the same gram pass), and a
    # fresh allocation per Arrow batch pays them every time. Python
    # workers are reused across tasks, so buffers fault once per worker.
    codes = _kernel_buf("codes", total + k - 1)
    codes[:] = np.frombuffer(joined, dtype=np.uint8)
    # polynomial k-gram codes over the WHOLE buffer (k in-place vector
    # ops); grams that span a row boundary land in per-row "invalid" tail
    # ranges that the interleaved reduceat below discards.
    gram = _kernel_buf("gram", total)
    gram[:] = codes[:total]
    with np.errstate(over="ignore"):
        for j in range(1, k):
            np.multiply(gram, np.int64(257), out=gram)
            np.add(gram, codes[j : total + j], out=gram)

    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    valid_end = starts + lens - (k - 1)  # exclusive end of in-row grams
    n_rows = len(lens)
    out = np.empty((n_rows, n_perms), dtype=np.int64)

    # Cache-blocked: row-chunks whose gram count fits in L2 (~256 KB),
    # running ALL permutations per chunk before moving on. A per-perm
    # full-batch sweep re-reads the gram buffer from DRAM n_perms times —
    # on a shared memory bus that serializes executor threads (round-1
    # measured 0.58 scaling efficiency on this map stage).
    CHUNK = 1 << 15
    tmp = _kernel_buf("tmp", min(total, CHUNK + int(lens.max(initial=0))))
    with np.errstate(over="ignore"):
        row = 0
        while row < n_rows:
            end, cnt = row, 0
            while end < n_rows and (cnt == 0 or cnt + lens[end] <= CHUNK):
                cnt += int(lens[end])
                end += 1
            base = starts[row]
            upper = int(starts[end]) if end < n_rows else total
            chunk = gram[base:upper]
            # interleaved (valid_start, valid_end) ranges; odd slots cover
            # the cross-boundary grams and are discarded
            off = np.empty(2 * (end - row), dtype=np.int64)
            off[0::2] = starts[row:end] - base
            off[1::2] = valid_end[row:end] - base
            t_buf = tmp[: len(chunk)]
            for i in range(n_perms):
                np.multiply(chunk, a[i], out=t_buf)
                np.add(t_buf, b[i], out=t_buf)
                out[row:end, i] = np.minimum.reduceat(t_buf, off)[0::2]
            row = end
    return list(out)


def minhash_signatures(
    mentions: DataFrame, id_col: str = "mention_id", text_col: str = "mention",
    n_perms: int = DEFAULT_PERMS, k: int = 3, max_chars: int = 128,
) -> DataFrame:
    """mentions → (mention_id, norm, sig array<long>[n_perms]).

    Map-only (no shuffle): Arrow-batched pandas UDF running the numpy
    MinHash kernel. The kernel only ever reads the first `max_chars`
    NORMALIZED characters, so normalization + truncation happen JVM-side
    (codegen) and Arrow ships <=max_chars bytes per mention instead of the
    full paragraph-sized surface form — at crawl scale that is the
    difference between streaming fingerprints and streaming the corpus
    into Python. The kernel re-normalizes its input, which is idempotent
    on this pre-normalized text in the common case; two documented edge
    cases can differ bit-wise from the pre-r3 (Python-side) signatures:
    a truncation boundary landing on a space (the kernel strips what the
    JVM substring kept), and non-ASCII whitespace such as U+00A0 (Java
    `\\s` does not match it, Python str.split() does). Signatures are
    deterministic and self-consistent WITHIN a version — every consumer
    (banding, scoring, oracle entries) derives from this one function —
    so nothing persisted depends on cross-version bit-stability."""
    import pandas as pd

    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(_minhash_kernel(texts.tolist(), n_perms, k, max_chars))

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    sig_udf = F.pandas_udf(_sig, "array<bigint>")

    # norm staged once: the old form evaluated the normalizer (a regex
    # pass) twice per row — once for the norm column, once inside the
    # UDF's substring argument. CollapseProject keeps the stage because
    # the non-cheap alias is referenced twice (SPARK-36718).
    staged = mentions.select(
        F.col(id_col).alias("mention_id"),
        normalize_text(F.col(text_col)).alias("norm"),
    )
    return staged.select(
        "mention_id",
        "norm",
        sig_udf(F.substring("norm", 1, max_chars)).alias("sig"),
    )


def link_mentions_portable(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "mention",
    n_perms: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
    block_cap: int = 64,
) -> DataFrame:
    """Oracle-checkable Stage D variant: word-level md5 string-min MinHash
    (md5 is bit-identical in DuckDB, so an ANSI-SQL oracle can reproduce
    every step), banded LSH blocking with a block-size cap, and the same
    signature-agreement scorer as the fast path.

    `link_mentions` (murmur3 + numpy kernel) is the throughput path; this
    variant exists so the driver's DuckDB gate can verify the
    block → pair → score semantics end-to-end. Same plan shape: map-only
    signatures, bucketed self-join (never all-pairs), capped blocks.
    """
    # words array staged once (same CollapseProject-guarded pattern as
    # dedup.minhash_words): n_perms md5-min expressions share one split
    # instead of re-running the regex split per permutation.
    words_staged = mentions.select(
        F.col(id_col).alias("mid"),
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "").alias("_w"),
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("_w"), lambda x: F.md5(F.concat(F.lit(f"{i}#"), x)))
        ).alias(f"mh{i}")
        for i in range(n_perms)
    ]
    sigs = words_staged.select("mid", *sig_cols)

    rows_per_band = n_perms // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + i}") for i in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    keys = sigs.select("mid", F.explode(band_structs).alias("bk")).select(
        "mid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    blocks = (
        keys.groupBy("band", "key")
        .agg(F.collect_list("mid").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= block_cap))
    )
    # self-join keyed by the natural (band, key) block identity — NOT
    # monotonically_increasing_id, whose values only agree across the two
    # evaluation branches under a fixed partition layout (AQE/recompute
    # can break that).
    members = blocks.select("band", "key", F.explode("ids").alias("m"))
    pairs = (
        members.select("band", "key", F.col("m").alias("a"))
        .join(members.select("band", "key", F.col("m").alias("b")), ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("mid").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_perms)])
    sb = sigs.select(F.col("mid").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_perms)])
    agreement = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n_perms)
    ) / F.lit(float(n_perms))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", F.round(agreement, 4).alias("agreement"))
        .filter(F.col("agreement") >= threshold)
    )


def score_blocks(
    sigs: DataFrame,
    threshold: float,
    n_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    block_cap: int = 64,
) -> DataFrame:
    """Fused banding + in-block pair scoring.

    Semantically identical to the naive pair-join scorer (band self-join,
    then two signature joins, then the agreement filter; it lives on as
    the reference in tests/test_property_linking.py), but the pairwise
    signature-agreement scores are computed INSIDE each block by a
    vectorized numpy kernel over the block's contiguous sorted rows — so
    the quadratic pair set never exists as a DataFrame. On
    duplication-heavy corpora pairs outnumber mentions ~30:1 at cap 64;
    materializing them and joining the signature table twice was >80% of
    pipeline wall-time at 400k pages. Cost now: a skinny block census,
    ONE (band, key) shuffle that moves the signatures, then a map stage.
    """
    rows_per_band = n_perms // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    F.concat_ws(
                        ",",
                        *[F.element_at("sig", b * rows_per_band + i + 1) for i in range(rows_per_band)],
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    # FLAT columnar layout: the signature travels as n_perms SHORT columns,
    # not an array<struct> collect_list. Nested collect_list blocks cost
    # ~50s/400k-pages in Arrow struct materialization alone; flat columns
    # convert to a numpy matrix in microseconds.
    #
    # 15-bit lanes: the agreement estimator only tests slot EQUALITY, so
    # each slot ships as its low 15 bits (ANSI-safe bitwiseAND, fits
    # smallint; the scorer's numpy dtype follows). A collision between two
    # DIFFERENT slot values inflates one pair's agreement by 1/32 with
    # probability 2^-15, far below the estimator's own 1/32 quantization,
    # and the banding keys (full-width F.hash of the band slice) stay
    # exact. Signature bytes per shuffled row drop from 256 to 64: wall
    # time on one box is unchanged (the Python pair kernel bounds the
    # stage there), the cut is for a cluster's network-bound shuffle.
    lanes = [f"s{i}" for i in range(n_perms)]
    sig_cols = [
        F.element_at("sig", i + 1).bitwiseAND(F.lit(32767)).cast("smallint").alias(lane)
        for i, lane in enumerate(lanes)
    ]
    banded = sigs.select("mention_id", "sig", F.explode(band_structs).alias("bk")).select(
        "mention_id",
        *sig_cols,
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    # Semi-join pre-filter (guide §3.2): drop rows of pair-less blocks
    # BEFORE the wide exchange + sort + Arrow boundary. Measured at 100k
    # pages, 68% of banded rows sit in SINGLETON blocks (540k of 795k) and
    # a further 0.5% in over-cap blocks — none can emit a pair, yet they
    # dominated the shuffle bytes and the JVM→Python transfer. The block
    # census is a second, SKINNY pass over the (checkpointed) signatures:
    # only (band, key) ever shuffles (partial-agg'd 12-byte rows), and the
    # qualifying key set (~7% of banded rows) broadcasts at ~1 MB here.
    # The F.broadcast hint is obeyed at ANY size (no threshold or AQE
    # override), so >10^8 qualifying blocks on a cluster can OOM this
    # build side: an open risk. It stays because without it the planner
    # picks a sort-merge LeftSemi, drops the repartition + sort below as
    # redundant, and blocks stop arriving contiguously: a 100k-page
    # run_pipeline (seed 42, 64 files) gave 18,060 of 72,835 edges.
    keys_only = sigs.select(F.explode(band_structs).alias("bk")).select(
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    qualifying = (
        keys_only.groupBy("band", "key")
        .agg(F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= block_cap))
        .select("band", "key")
    )
    pruned = banded.join(F.broadcast(qualifying), ["band", "key"], "left_semi")
    # one hash shuffle co-locates each block; an in-partition sort makes
    # blocks contiguous so the scorer streams them without any grouping agg
    width = int(sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arranged = pruned.repartition(width, "band", "key").sortWithinPartitions("band", "key")

    npf = float(n_perms)

    # mapInArrow, not mapInPandas (guide §4.2): ids stay Arrow buffers end
    # to end and only the pair-selected ids are materialized by a
    # vectorized take/if_else, instead of boxing every mention_id into a
    # Python object. Neutral at 100k pages on one box (the Arrow transfer
    # dominates); the avoided boxing grows with block density.
    def _score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        triu_cache: dict[int, tuple] = {}
        # the census counts the same rows and keeps only blocks of
        # 2..block_cap rows, so every block here has a pair and fits the
        # cap; complete_groups raises if that invariant ever breaks
        for run, bounds in complete_groups(batches, ["band", "key"], block_cap):
            sizes = np.diff(bounds)
            pair_total = int((sizes * (sizes - 1) // 2).sum())
            i_out = np.empty(pair_total, dtype=np.int64)
            j_out = np.empty(pair_total, dtype=np.int64)
            pos = 0
            for st, s in zip(bounds[:-1], sizes):
                cached = triu_cache.get(s)
                if cached is None:
                    cached = triu_cache[s] = np.triu_indices(int(s), k=1)
                iu, ju = cached
                c = len(iu)
                i_out[pos : pos + c] = iu + st
                j_out[pos : pos + c] = ju + st
                pos += c
            sig = np.column_stack([run.column(lane).to_numpy() for lane in lanes])
            agree = (sig[i_out] == sig[j_out]).sum(axis=1) / npf
            ok = agree >= threshold
            if not ok.any():
                continue
            ids = run.column("mention_id")
            a_arr = ids.take(pa.array(i_out[ok]))
            b_arr = ids.take(pa.array(j_out[ok]))
            # utf8 byte order == codepoint order, so this matches the old
            # Python string comparison exactly
            swap = pc.greater(a_arr, b_arr)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.if_else(swap, b_arr, a_arr),
                    pc.if_else(swap, a_arr, b_arr),
                    pa.array(agree[ok], type=pa.float64()),
                ],
                ["a", "b", "jaccard"],
            )

    edges = arranged.mapInArrow(_score, schema="a string, b string, jaccard double")
    # a pair can surface in several bands with the same score — dedup the
    # (small, post-threshold) edge set
    return edges.distinct()


def link_mentions(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "mention",
    threshold: float = 0.6,
    n_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    block_cap: int = 64,
) -> DataFrame:
    """Full Stage D: mentions → similarity edges (a, b, jaccard).

    Signatures are localCheckpointed (the banding consumes the Python
    MinHash stage once, but without materialization Catalyst would re-run
    it for any second consumer of the returned edges). Projected to
    (mention_id, sig) FIRST: a checkpoint stores every column it is
    handed — column pruning cannot reach across the materialization
    barrier — and the scorer never reads `norm` (round 6; ~100 B/row of
    stored+rescanned payload dropped)."""
    sigs = (
        minhash_signatures(mentions, id_col, text_col, n_perms)
        .select("mention_id", "sig")
        .localCheckpoint(eager=False)
    )
    return score_blocks(sigs, threshold, n_perms, bands, block_cap)
