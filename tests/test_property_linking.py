"""Property test (round-2 verdict item 8): the fused block scorer
(`score_blocks`) must emit exactly the same edge set as the naive
pair-join scorer (`lsh_candidate_pairs` + `score_pairs`, defined below
as the reference) for ANY block layout — blocks straddling Arrow batch
boundaries, oversized blocks at batch start/end/split points, and batches
consisting entirely of one oversized block. The mapInArrow carry/skip
logic (kg/linking.py score_blocks._score) is the subtle code under test.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trainable_entity_extractor_spark.kg.linking import score_blocks

# ---------------------------------------------------------------------------
# naive reference scorer: materialize the candidate pair set, then join the
# signature table twice and filter on slot agreement
# ---------------------------------------------------------------------------


def lsh_candidate_pairs(sigs: DataFrame, n_perms: int, bands: int, block_cap: int) -> DataFrame:
    """Band the signatures, bucket-join within bands, cap oversized blocks.

    Returns distinct (a, b) candidate pairs with a < b.
    """
    rows_per_band = n_perms // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.concat_ws(",", *[F.element_at("sig", b * rows_per_band + i + 1) for i in range(rows_per_band)])).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("mention_id", F.explode(band_structs).alias("bk")).select(
        "mention_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    members = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("mention_id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= block_cap))
        .select("band", "key", F.explode("ids").alias("m"))
    )
    left = members.select("band", "key", F.col("m").alias("a"))
    right = members.select("band", "key", F.col("m").alias("b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def score_pairs(pairs: DataFrame, sigs: DataFrame, threshold: float, n_perms: int) -> DataFrame:
    """Signature-agreement Jaccard estimate per candidate pair."""
    sa = sigs.select(F.col("mention_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("mention_id").alias("b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_perms))
    )
    return (
        pairs.join(sa, "a").join(sb, "b").select("a", "b", est.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


N_PERMS = 8
BANDS = 2
CAP = 4  # tiny cap: many blocks exceed it; the census drops them before the scorer
THRESHOLD = 0.3

# signatures drawn from a 2-symbol alphabet: band keys collide heavily,
# producing organic blocks of wildly varying sizes (many over the cap)
sig_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=1), min_size=N_PERMS, max_size=N_PERMS),
    min_size=2,
    max_size=60,
)


def _edge_set(df):
    return {(r["a"], r["b"], round(r["jaccard"], 6)) for r in df.collect()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sigs=sig_strategy, batch=st.sampled_from([3, 7, 10000]))
def test_score_blocks_equals_naive_pair_scorer(spark, sigs, batch):
    rows = [(f"m{i:03d}", [int(v) for v in s]) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "mention_id string, sig array<bigint>")

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        fused = _edge_set(
            score_blocks(df, THRESHOLD, n_perms=N_PERMS, bands=BANDS, block_cap=CAP)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)

    naive_pairs = lsh_candidate_pairs(df, n_perms=N_PERMS, bands=BANDS, block_cap=CAP)
    naive = _edge_set(
        score_pairs(naive_pairs, df, threshold=THRESHOLD, n_perms=N_PERMS)
    )
    assert fused == naive


# ---------------------------------------------------------------------------
# the numpy MinHash kernel vs an independent naive re-implementation
# ---------------------------------------------------------------------------


def _naive_minhash(text: str, n_perms: int, k: int, max_chars: int) -> list[int]:
    """Per-row, loop-based re-derivation of the published definition:
    normalize, char k-grams via polynomial codes, min over a_i*x+b_i with
    int64 wraparound. Shares only _perm_coeffs with the kernel (the hash
    family IS the spec); everything else is an independent author-path."""
    import numpy as np

    from trainable_entity_extractor_spark.kg.linking import _perm_coeffs

    a, b = _perm_coeffs(n_perms)
    to_i64 = lambda v: v - (1 << 64) if v >= (1 << 63) else v
    norm = " ".join((text or "").lower().split())[:max_chars]
    if len(norm) < k:
        norm = norm + "\x00" * (k - len(norm))
    enc = norm.encode("utf-8", "replace")
    grams = []
    for i in range(len(enc) - (k - 1)):
        code = 0
        for j in range(k):
            code = (code * 257 + enc[i + j]) & ((1 << 64) - 1)
        grams.append(code)
    sig = []
    for i in range(n_perms):
        best = None
        for g in grams:
            h = to_i64((a[i] * g + b[i]) & ((1 << 64) - 1))
            if best is None or h < best:
                best = h
        sig.append(best)
    return sig


@settings(max_examples=30, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FF),
            max_size=200,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_minhash_kernel_matches_naive(texts):
    from trainable_entity_extractor_spark.kg.linking import _minhash_kernel

    got = _minhash_kernel(texts, n_perms=8, k=3, max_chars=64)
    for t, sig in zip(texts, got):
        assert list(sig) == _naive_minhash(t, 8, 3, 64), repr(t)
