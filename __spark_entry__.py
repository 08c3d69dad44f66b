"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship pipeline smoke on sf0.001.
`queries()` — one entry per implemented operator family from SURVEY.md §2,
each a (spark, sf_dir) -> DataFrame callable built on the package's
operators.
`oracle_sql()` — DuckDB-equivalent ANSI SQL per query (same column names,
same deterministic rounding), a pure function of this code: every query
has one, and an oracle that fails to build raises.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints are strings
# under `from __future__ import annotations` and must resolve in globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship KG pipeline over synthetic pages derived at sf0.001 scale
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from trainable_entity_extractor_spark.pipeline import run_pipeline
    from trainable_entity_extractor_spark.sources.synth_pages import synth_pages

    pages = synth_pages(spark, 500, seed=42)
    out = run_pipeline(spark, pages)
    return out["triples"]


# ---------------------------------------------------------------------------
# queries — Spark side
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A3/A1-family aggregation (TPC-H Q1 shape): partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark, sf_dir):
    """join+agg+top-k (L-series): broadcast dim join, min shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


def q_orders_without_lineitems(spark, sf_dir):
    """U2/J7 anti-join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


def q_parts_in_lineitem(spark, sf_dir):
    """semi-join + distinct count per brand."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


def q_running_quantity(spark, sf_dir):
    """W6 running budget window: cumulative sum per order."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
        )
        .filter(F.col("l_orderkey") < 100)
        .orderBy("l_orderkey", "l_linenumber")
    )


def q_order_gaps(spark, sf_dir):
    """W2 lag/lead: days since customer's previous order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def q_first_order_per_customer(spark, sf_dir):
    """J2/W7 top-1-per-group via row_number."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


def q_event_type_mode(spark, sf_dir):
    """A2 mode per user (deterministic tie-break by event_type asc)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "cnt")
        .orderBy("user_id")
    )


def q_unordered_parts(spark, sf_dir):
    """U3 set difference (EXCEPT on keys)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.select("p_partkey")
        .exceptAll(li.select(F.col("l_partkey").alias("p_partkey")).distinct())
        .orderBy("p_partkey")
    )


def q_price_percentiles(spark, sf_dir):
    """A3 distribution stats: exact continuous percentiles per priority."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


def q_hourly_event_rollup(spark, sf_dir):
    """streaming-analog tumbling window agg (batch equivalent)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


def q_sessionize(spark, sf_dir):
    """session windows via lag-gap flags + running sum (W-series)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = (
        F.when(prev.isNull(), 1)
        .when((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800, 1)
        .otherwise(0)
    )
    sess = e.withColumn("new_sess", gap).withColumn("session_id", F.sum("new_sess").over(w))
    return (
        sess.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def q_region_revenue(spark, sf_dir):
    """multi-way broadcast join chain (TPC-H Q5 shape)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
        .orderBy("r_name")
    )


def q_top_words(spark, sf_dir):
    """A1 word-frequency top-k over documents."""
    from trainable_entity_extractor_spark.session import repartition_if_big

    d = _t(spark, sf_dir, "documents")
    # scale-adaptive repartition before the explode (single-row-group
    # input; see repartition_if_big — the explode+partial-agg is cheap
    # enough per row that only big inputs repay the exchange)
    words = (
        repartition_if_big(d.select("doc_id", "text"), "doc_id")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(30)
    )


def q_exact_dedup(spark, sf_dir):
    """dedup: duplicate groups by md5 of the sorted distinct word set
    (bag-of-words signature — exact-dup generalization that fires on this
    corpus; raw-text md5 dedup is the degenerate case)."""
    from trainable_entity_extractor_spark.session import repartition_if_big

    d = _t(spark, sf_dir, "documents")
    words = F.array_sort(
        F.array_distinct(F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != ""))
    )
    # scale-adaptive early repartition before the interpreted sort/md5
    # projection (single-row-group input; see repartition_if_big)
    return (
        repartition_if_big(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.md5(F.array_join(words, " ")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
        .orderBy("fp")
    )


def q_minhash_buckets(spark, sf_dir):
    """dedup: MinHash candidate buckets (md5 string-min signatures).

    The repartition spreads the signature projection (4 md5s per word)
    across cores — the small-SF parquet file otherwise scans as a single
    partition and the map stage runs serial (measured 1.17 s → 0.61 s at
    sf0.1). At crawl scale the input's natural splits make it a no-op
    cost-wise: it keys by doc_id, which the groupBy would shuffle anyway."""
    from trainable_entity_extractor_spark.operators.dedup import minhash_buckets

    d = _t(spark, sf_dir, "documents")
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return minhash_buckets(d.select("doc_id", "text").repartition(width, "doc_id")).orderBy(
        "bucket"
    )


def q_adjacent_duplicates(spark, sf_dir):
    """F13 adjacent-duplicate detection.

    Scale note: expressed as a doc_id+1 equi-join (fingerprint-only
    payload), NOT an unpartitioned window — a global `Window.orderBy`
    funnels every row through one task. The in-engine F13
    (operators/alignment.py) is per-document and already partitioned.

    ASSUMES dense consecutive doc_ids (true of the documents table:
    doc_id = 0..N-1 at every scale factor, see TESTDATA.md). The DuckDB
    oracle deliberately keeps the lead()-over-doc_id formulation so the
    gate verifies this equivalence rather than mirroring the join."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    nxt = fp.select((F.col("doc_id") - 1).alias("doc_id"), F.col("fp").alias("fp_next"))
    return (
        fp.join(nxt, "doc_id")
        .filter(F.col("fp") == F.col("fp_next"))
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_quality_stats(spark, sf_dir):
    """text analysis: quality features aggregated per lang."""
    from trainable_entity_extractor_spark.operators.text_analysis import quality_features

    d = _t(spark, sf_dir, "documents")
    q = quality_features(d).join(d.select("doc_id", "lang"), "doc_id")
    return (
        q.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_words"), 2).alias("avg_words"),
            F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


def q_token_counts(spark, sf_dir):
    """text analysis: token counting per source."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""))
    return (
        d.select("source", words.alias("tokens"))
        .groupBy("source")
        .agg(F.sum("tokens").alias("total_tokens"), F.count("*").alias("n_docs"))
        .orderBy("source")
    )


def q_fingerprint_distinct(spark, sf_dir):
    """text analysis: distinct fingerprints per source, via the salted
    two-stage exact count-distinct (operators/skew.py) — a hot source
    never funnels its whole fingerprint set through one reducer."""
    from trainable_entity_extractor_spark.operators.dedup import fingerprint
    from trainable_entity_extractor_spark.operators.skew import salted_count_distinct

    d = _t(spark, sf_dir, "documents")
    fps = d.select("source", fingerprint(F.col("text")).alias("fp"))
    return salted_count_distinct(fps, "source", "fp").orderBy("source")


def q_ngram_jaccard_consecutive(spark, sf_dir):
    """near-dup: word-3-gram Jaccard between consecutive doc ids.

    Plan notes: the repartition on doc_id (round 3) is the projection's
    parallelism fix — the documents table is ONE parquet row group at
    every SF, so without it the interpreted shingle projection runs on a
    single core; at crawl scale natural input splits make it a no-op.
    int64-hashed shingles keep the pair exchange at 8 bytes/element;
    union size comes from |A|+|B|-|A∩B| (arrays are distinct). Round 6
    replaced the two-sided self-join with a single-projection dual-key
    emit + min_by/max_by reassembly (see inline comment; plans/r06:
    2 scans + 3 exchanges + broadcast build → 1 scan + 2 exchanges)."""
    from trainable_entity_extractor_spark.operators.dedup import with_word_shingles_hashed

    d = _t(spark, sf_dir, "documents")
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Round-6 rework (guide §2.3/§2.4, plans/r06): the old two-sided
    # self-join scanned documents twice, repartitioned twice, ran the
    # interpreted shingle projection twice (each side internally ~2x more
    # via CASE/subtree duplication — see with_word_shingles_hashed), and
    # built a broadcast of one full shingle side. Now each doc's shingle
    # array is computed ONCE (staged projections) and emitted under two
    # keys (its own id and its predecessor's); ONE hash exchange
    # co-locates each consecutive pair and min_by/max_by reassemble it.
    # count==2 reproduces the inner join (boundary docs pair nothing).
    sh = with_word_shingles_hashed(
        d.select("doc_id", "text").repartition(width, "doc_id")
    )
    e = sh.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id").alias("k"), F.lit(0).alias("pos"), F.col("sh").alias("sh")),
                F.struct((F.col("doc_id") - 1).alias("k"), F.lit(1).alias("pos"), F.col("sh").alias("sh")),
            )
        ).alias("e")
    ).select(F.col("e.k").alias("k"), F.col("e.pos").alias("pos"), F.col("e.sh").alias("sh"))
    paired = (
        e.groupBy("k")
        .agg(
            F.min_by("sh", "pos").alias("sh_a"),
            F.max_by("sh", "pos").alias("sh_b"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") == 2)
    )
    return (
        paired.select(
            F.col("k").alias("doc_id"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("_ni"),
            (F.size("sh_a") + F.size("sh_b")).alias("_ns"),
        )
        .select(
            "doc_id",
            F.round(F.col("_ni") / (F.col("_ns") - F.col("_ni")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0)
        .orderBy("doc_id")
    )


def q_cosine_topk(spark, sf_dir):
    """similarity: exact cosine top-10 neighbors of vec_id=0."""
    from trainable_entity_extractor_spark.operators.similarity import cosine_topk_self
    from trainable_entity_extractor_spark.session import repartition_if_big

    e = _t(spark, sf_dir, "embeddings")
    # scale-adaptive repartition before the interpreted dot-product
    # projection (single-row-group input; see repartition_if_big). The
    # broadcast side (vec_id=0 lookup) still reads the raw table with
    # the pushed filter.
    out = cosine_topk_self(repartition_if_big(e, "vec_id"), 0, k=10, lookup=e)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_label_centroid_sim(spark, sf_dir):
    """embedding agg: per-label mean vector norm (vector agg exercise)."""
    e = _t(spark, sf_dir, "embeddings")
    # dim from the parquet footer (driver-side metadata peek) — NOT a
    # Spark .first() action during query construction
    dim = _embedding_dim_at(f"{sf_dir}/embeddings.parquet")
    comps = [F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}") for i in range(dim)]
    cent = e.groupBy("label").agg(*comps, F.count("*").alias("n_vecs"))
    norm = F.sqrt(sum(F.col(f"c{i}") * F.col(f"c{i}") for i in range(dim)))
    return cent.select("label", F.round(norm, 6).alias("centroid_norm"), "n_vecs").orderBy("label")


def q_triples_phrases(spark, sf_dir):
    """Stage C triple extraction on the documents table (substring-level
    fuzzy-100 join, first appearance per doc)."""
    from trainable_entity_extractor_spark.kg.triples import extract_triples, options_df
    from trainable_entity_extractor_spark.session import repartition_if_big

    d = _t(spark, sf_dir, "documents")
    # scale-adaptive repartition before the normalize+contains join
    # (single-row-group input; url is the agg key downstream, so this
    # exchange also replaces the aggregation's own — measured a win down
    # to sf0.1, hence the lower threshold than the default 4 MB; below
    # ~256 KB the exchange is pure overhead)
    segments = repartition_if_big(
        d.select(
            F.col("doc_id").cast("string").alias("url"),
            F.lit(0).alias("seg_idx"),
            F.lit(1).alias("page"),
            F.col("text"),
        ),
        "url",
        min_bytes=256 << 10,
    )
    phrases = [
        ("1", "table hash"),
        ("2", "customer join"),
        ("3", "part filter"),
        ("4", "merge group"),
    ]
    t = extract_triples(segments, options_df(spark, phrases), "phrase")
    return t.select(F.col("subj").cast("long").alias("doc_id"), "obj_id").orderBy("doc_id", "obj_id")


def q_minhash_lsh_linking(spark, sf_dir):
    """Stage D MinHash-LSH linking over document texts. Oracle-checkable
    variant: md5 string-min signatures (bit-identical in DuckDB), banded
    blocking with block cap, signature-agreement scorer — same plan shape
    as the murmur3/numpy throughput path (link_mentions, pytest-gated)."""
    from trainable_entity_extractor_spark.kg.linking import link_mentions_portable

    d = _t(spark, sf_dir, "documents")
    mentions = d.select(
        F.col("doc_id").cast("long").alias("mention_id"), F.col("text").alias("mention")
    )
    return link_mentions_portable(mentions, threshold=0.75).orderBy("a", "b")


def q_connected_components(spark, sf_dir):
    """Stage E connected components over a deterministic synthetic edge set
    derived from orders (custkey chain graph). Oracle: DuckDB recursive-CTE
    transitive closure with min-label aggregation (same min-id tie-break)."""
    from trainable_entity_extractor_spark.kg.canonicalize import connected_components

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("c"), (F.col("o_custkey") % 500).cast("string")).alias("a"),
        F.concat(F.lit("c"), ((F.col("o_custkey") + 7) % 500).cast("string")).alias("b"),
    ).distinct()
    return connected_components(edges)


def q_char_budget_prefix(spark, sf_dir):
    """F7/W6 running-char-budget shape on the documents table: per lang,
    keep the doc_id-ordered prefix of documents fitting a 5000-char
    budget."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        d.withColumn("cum_chars", F.sum("n_chars").over(w))
        .filter(F.col("cum_chars") <= 5000)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.max("cum_chars").alias("chars_used"))
        .orderBy("lang")
    )


def q_simhash_buckets(spark, sf_dir):
    """dedup: SimHash-16 duplicate buckets (operators/dedup.simhash64 —
    md5-nibble bit votes, bit-identical in DuckDB)."""
    from trainable_entity_extractor_spark.operators.dedup import simhash64

    d = _t(spark, sf_dir, "documents")
    return (
        simhash64(d)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


def q_char_budget_both_ends(spark, sf_dir):
    """F9 CleanBeginning600End600 shape on documents: per lang, docs in
    the doc_id-ordered 2500-char prefix budget OR the 2500-char suffix
    budget (suffix pass excludes prefix-taken docs, like the reference's
    ml_label exclusion)."""
    d = _t(spark, sf_dir, "documents")
    w_fwd = Window.partitionBy("lang").orderBy("doc_id")
    w_rev = Window.partitionBy("lang").orderBy(F.col("doc_id").desc())
    flagged = (
        d.withColumn("cum_fwd", F.sum("n_chars").over(w_fwd))
        .withColumn("front", F.col("cum_fwd") <= 2500)
        .withColumn(
            "cum_rev",
            F.sum(F.when(F.col("front"), 0).otherwise(F.col("n_chars"))).over(w_rev),
        )
        .withColumn("back", ~F.col("front") & (F.col("cum_rev") <= 2500))
    )
    return (
        flagged.filter(F.col("front") | F.col("back"))
        .groupBy("lang")
        .agg(
            F.sum(F.col("front").cast("int")).alias("n_front"),
            F.sum(F.col("back").cast("int")).alias("n_back"),
            F.sum("n_chars").alias("chars_used"),
        )
        .orderBy("lang")
    )


def q_embedding_near_dup(spark, sf_dir):
    """dedup: embedding-cosine near-duplicate pairs with sign-LSH blocking
    (task-brief 'embedding-cosine near-dup' slot, oracle-checkable form).

    Blocking: a 4-bit deterministic hyperplane signature from fixed
    axis-difference planes (bit k = v[k] > v[k+32]) — a valid random-
    hyperplane LSH family that both Spark and DuckDB can compute exactly.
    Pairs are generated ONLY within a bucket (never all-pairs: the
    self-join is keyed on the bucket, the same shape as kg/linking), then
    scored with exact cosine. Norms are precomputed per side so the
    per-pair work is one dot product.

    SIZING RULE (do not lift this entry form to scale as-is): the bucket
    space here is FIXED at 4 bits = 16 buckets, so candidate pairs grow
    O(n²/16) — quadratic in corpus size. At scale the number of
    hyperplane bits must grow with log2(n) (e.g. ~log2(n/target_bucket_
    size) bits keeps expected bucket size — and therefore per-bucket
    pair work — constant), plus multiprobe to buy recall back. This
    4-bit form exists because it is the largest bucket space a DuckDB
    oracle can reproduce exactly on the sf0.01 gate; the production-scale
    variants with murmur3 hyperplanes / multiprobe / IVF partition
    pruning live in operators/similarity.py (pytest-gated)."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = sum(
        (F.element_at("v", k + 1) > F.element_at("v", k + 33)).cast("int") * (1 << k)
        for k in range(4)
    )
    dot_self = F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    base = (
        e.select("vec_id", v.alias("v"))
        .withColumn("bucket", bucket)
        .withColumn("norm", F.sqrt(dot_self))
    )
    a = base.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "bucket", F.col("norm").alias("na"))
    b = base.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "bucket", F.col("norm").alias("nb"))
    dot_ab = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", (dot_ab / (F.col("na") * F.col("nb"))).alias("_cos"))
        .filter(F.col("_cos") >= 0.4)
        .select("a", "b", F.round("_cos", 4).alias("cosine"))
        .orderBy("a", "b")
    )


def q_spatial_assign(spark, sf_dir):
    """J3/F1 spatial box-overlap join on the driver gate: tokens derived
    deterministically from lineitem are assigned to the first grid region
    covering >50% of the token (operators/geometry.py
    assign_tokens_to_regions — (doc, page) equi-join left to Catalyst/AQE,
    codegen arithmetic predicates, no spatial index needed at per-document
    region counts; regions is corpus-proportional so it is never
    broadcast-hinted). Unassigned tokens keep region -1."""
    from trainable_entity_extractor_spark.operators.geometry import (
        assign_tokens_to_regions,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    tokens = li.select(
        F.col("l_orderkey").alias("url"),
        F.lit(1).alias("page"),
        ((F.col("l_partkey") % 50) * 10.0).alias("left"),
        ((F.col("l_suppkey") % 40) * 10.0).alias("top"),
        F.lit(12.0).alias("width"),
        F.lit(8.0).alias("height"),
        "l_orderkey",
        "l_linenumber",
    )
    grid = spark.range(20).select(
        F.col("id").alias("region_id"),
        ((F.col("id") % 5) * 100.0).alias("left"),
        (F.floor(F.col("id") / 5) * 100.0).alias("top"),
        F.lit(100.0).alias("width"),
        F.lit(100.0).alias("height"),
        F.lit(1).alias("page"),
    )
    regions = (
        tokens.select("url").distinct().crossJoin(grid)
    )  # per-document region dimension; join strategy left to AQE
    assigned = assign_tokens_to_regions(tokens, regions)
    return (
        assigned.groupBy(F.coalesce("region_id", F.lit(-1)).alias("region_id"))
        .agg(F.count("*").alias("n_tokens"))
        .orderBy("region_id")
    )


def q_repeated_headers(spark, sf_dir):
    """F12 distributed form on the driver gate: page-edge segments whose
    text cluster has >= max(ceil(0.2*pages), 3) CLUSTER MEMBERS in a
    document are stripped (operators/windows.py
    remove_repeated_headers_df counts members, `F.count("*")`, matching
    the reference's `len(cluster)`; a `distinct_pages=True` variant
    counts distinct pages for the crawl use-case). Two hash aggs + one
    equi-join, the crawl-scale path; the fuzzy per-document variant
    lives in operators/alignment.py. Synthetic segment table derived
    deterministically from orders with a planted repeating header."""
    from trainable_entity_extractor_spark.operators.windows import (
        remove_repeated_headers_df,
    )

    o = _t(spark, sf_dir, "orders")
    seg = o.select(
        F.concat(F.lit("d"), (F.col("o_custkey") % 20).cast("string")).alias("url"),
        ((F.col("o_orderkey") % 7) + 1).cast("int").alias("page"),
        ((F.col("o_orderkey") % 10) * 80.0).alias("top"),
        F.lit(12.0).alias("height"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("CONFIDENTIAL HEADER"))
        .otherwise(F.concat(F.lit("body "), F.col("o_orderkey").cast("string")))
        .alias("text"),
    )
    cleaned = remove_repeated_headers_df(seg, page_height=800.0)
    return cleaned.groupBy("url").agg(F.count("*").alias("n_left")).orderBy("url")


def q_merge_boxes(spark, sf_dir):
    """X15 merged bounding rectangles per (url, page)
    (operators/geometry.py merge_boxes — one hash agg of min/max column
    arithmetic, Rectangle.merge_rectangles semantics)."""
    from trainable_entity_extractor_spark.operators.geometry import merge_boxes

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    tokens = li.select(
        (F.col("l_orderkey") % 10).cast("int").alias("url"),
        ((F.col("l_linenumber") % 3) + 1).cast("int").alias("page"),
        ((F.col("l_partkey") % 50) * 10.0).alias("left"),
        ((F.col("l_suppkey") % 40) * 10.0).alias("top"),
        F.lit(12.0).alias("width"),
        F.lit(8.0).alias("height"),
    )
    return merge_boxes(tokens, ["url", "page"]).orderBy("url", "page")


def q_frame_sample(spark, sf_dir):
    """Multimodal frame-sampling plumbing (operators/multimodal.py
    sample_frames): one-to-many mapInPandas emitting byte-slice
    pseudo-frames — the partition-preserving explode shape a real ffmpeg
    sampler would use. Blobs here are the documents' UTF-8 text bytes so
    a DuckDB oracle can reproduce the slicing (the corpus text is pure
    ASCII, so character slicing == byte slicing); frames are compared
    hex-encoded (Spark's base64 is MIME-wrapped every 76 chars, hex is
    not)."""
    from trainable_entity_extractor_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    assets = d.select(
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.col("text").cast("binary").alias("blob"),
    )
    frames = sample_frames(assets, every_n_bytes=64, max_frames=8)
    return frames.select(
        "asset_id", "frame_idx", F.hex("frame").alias("frame_hex")
    ).orderBy("asset_id", "frame_idx")


def q_reading_order(spark, sf_dir):
    """W1 reading order on the driver gate (operators/windows.py
    with_reading_order — row_number over (page, top, left) per document,
    PdfData.py:49). `left` encodes a unique per-row key so the sort is
    total and both engines agree deterministically."""
    from trainable_entity_extractor_spark.operators.windows import with_reading_order

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    seg = li.select(
        (F.col("l_orderkey") % 10).cast("int").alias("url"),
        ((F.col("l_linenumber") % 2) + 1).cast("int").alias("page"),
        ((F.col("l_partkey") % 30) * 10.0).alias("top"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("double").alias("left"),
    )
    return with_reading_order(seg).orderBy("url", "seg_idx")


def q_title_carry(spark, sf_dir):
    """W3 title carry-forward on the driver gate (operators/windows.py
    with_last_title — last TITLE segment before each row, ignorenulls
    last over an unbounded-preceding window,
    SegmentLightgbmFrequentWords.py:246-252)."""
    from trainable_entity_extractor_spark.operators.windows import with_last_title

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    seg = li.select(
        (F.col("l_orderkey") % 5).cast("int").alias("url"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seg_idx"),
        F.when(F.col("l_partkey") % 17 == 0, F.lit("TITLE"))
        .otherwise(F.lit("TEXT"))
        .alias("seg_type"),
        F.concat(F.lit("seg "), F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string")).alias("text"),
        F.lit(72.0).alias("left"),
        F.lit(100.0).alias("top"),
        F.lit(451.0).alias("width"),
        F.lit(12.0).alias("height"),
    )
    return (
        with_last_title(seg)
        .select("url", "seg_idx", "seg_type", F.col("last_title.text").alias("last_title_text"))
        .orderBy("url", "seg_idx")
    )


def q_neighbor_smoothing(spark, sf_dir):
    """W4 neighbor score smoothing on the driver gate
    (operators/windows.py with_neighbor_score_smoothing — the
    Near1FastSegmentSelector shape: selected = own score above threshold
    OR any neighbor within ±k above it, one bounded window max)."""
    from trainable_entity_extractor_spark.operators.windows import (
        with_neighbor_score_smoothing,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    scored = li.select(
        (F.col("l_orderkey") % 10).cast("int").alias("url"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seg_idx"),
        ((F.col("l_partkey") % 100) / 100.0).alias("score"),
    )
    return (
        with_neighbor_score_smoothing(scored, k=1)
        .select("url", "seg_idx", "selected")
        .orderBy("url", "seg_idx")
    )


def q_neighbor_features(spark, sf_dir):
    """W2 neighbor features on the driver gate (operators/windows.py
    with_neighbor_features — lag/lead of the segment TEXT and of the
    layout STRUCT per row, the FastSegmentSelector.py:44-68 feature
    shape; completes the W1-W4 driver-gated window set — `order_gaps`
    covers scalar lag only). Struct members are flattened to scalar
    columns for the hash compare; nulls at document edges in both
    engines. seg_idx is globally unique so the per-document ordering is
    total and lag/lead agree deterministically."""
    from trainable_entity_extractor_spark.operators.windows import (
        with_neighbor_features,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    seg = li.select(
        (F.col("l_orderkey") % 8).cast("int").alias("url"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seg_idx"),
        F.concat(
            F.lit("seg "),
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("text"),
        ((F.col("l_partkey") % 30) * 10.0).alias("left"),
        (F.col("l_linenumber") * 20.0).alias("top"),
        F.lit(451.0).alias("width"),
        F.lit(12.0).alias("height"),
        F.when(F.col("l_suppkey") % 11 == 0, F.lit("TITLE"))
        .otherwise(F.lit("TEXT"))
        .alias("seg_type"),
    )
    return (
        with_neighbor_features(seg)
        .select(
            "url",
            "seg_idx",
            "text",
            "prev_text",
            "next_text",
            F.col("prev_layout.left").alias("prev_left"),
            F.col("prev_layout.seg_type").alias("prev_seg_type"),
            F.col("next_layout.top").alias("next_top"),
            F.col("next_layout.seg_type").alias("next_seg_type"),
        )
        .orderBy("url", "seg_idx")
    )


def q_layout_modes(spark, sf_dir):
    """A8 per-document layout modes (operators/windows.py layout_modes —
    the LightGBM selector's feature normalizers: mode of left margin,
    segment height, and lag-derived line spacing). Input formulas are
    skewed so every mode is unique — mode() tie-breaking is
    engine-arbitrary, so the entry pins only the tie-free semantics."""
    from trainable_entity_extractor_spark.operators.windows import layout_modes

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    seg = li.select(
        (F.col("l_orderkey") % 5).cast("int").alias("url"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seg_idx"),
        F.when(F.col("l_partkey") % 3 == 0, F.lit(72.0))
        .otherwise(100.0 + (F.col("l_partkey") % 7) * 15.0)
        .alias("left"),
        (F.col("l_linenumber") * 20.0).alias("top"),
        F.when(F.col("l_suppkey") % 2 == 0, F.lit(12.0))
        .otherwise(9.0 + (F.col("l_suppkey") % 5))
        .alias("height"),
    )
    return layout_modes(seg).orderBy("url")


def q_streaming_rollup(spark, sf_dir):
    """§2.10 Structured Streaming on the driver gate: the events table
    re-read as a FILE STREAM (readStream.schema(...).parquet), a tumbling
    6-hour event-time window aggregation, and a complete-mode memory sink
    drained with trigger(availableNow=True). Complete-mode window
    aggregation is arrival-order-insensitive — the final sink contents
    equal the batch GROUP BY exactly, which is what makes a streaming
    entry DuckDB-oracle-able. (Append-mode watermark late-drop semantics
    and stateful restart-resume are pytest-gated in
    tests/test_streaming.py — those are genuinely order-dependent and
    have no SQL oracle.)"""
    import uuid

    path = f"{sf_dir}/events.parquet"
    batch_schema = spark.read.parquet(path).schema
    # the file-stream source requires a DIRECTORY: stream the sf dir with
    # a glob filter selecting just the events file
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n_events", "sum_value"
        )
    )
    name = f"tee_stream_rollup_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    return spark.table(name).orderBy("win_start", "event_type")


_MONTHS_ES = [
    "enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre",
]
_MONTHS_EN = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]


def q_date_extraction(spark, sf_dir):
    """M3/X3 date parsing on the driver gate (functions/dates.py — the
    deterministic multi-locale replacement for dateparser.search_dates,
    DateParserMethod.py:32-57 semantics; previously pytest-only).
    Sentences are CONSTRUCTED from o_orderdate in three formats (ISO,
    Spanish '<d> de <mes> de <y>', English '<Month> d, yyyy') with noise
    words, then parsed back by the real extract_date kernel in an
    Arrow-batched pandas UDF. Because the embedded date is known, the
    oracle computes the expected '%Y-%m-%d' straight from the column —
    parser-independent, so this checks the PARSER, not itself."""
    from trainable_entity_extractor_spark.functions.dates import extract_date

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    es = F.array(*[F.lit(m) for m in _MONTHS_ES])
    en = F.array(*[F.lit(m) for m in _MONTHS_EN])
    d = F.col("o_orderdate")
    variant = (F.col("o_orderkey") % 3).cast("int")
    text = (
        F.when(variant == 0, F.concat(F.lit("report dated "), F.date_format(d, "yyyy-MM-dd"), F.lit(" for review")))
        .when(
            variant == 1,
            F.concat(
                F.lit("aprobado el "),
                F.dayofmonth(d).cast("string"),
                F.lit(" de "),
                F.element_at(es, F.month(d)),
                F.lit(" de "),
                F.year(d).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("adopted on "),
                F.element_at(en, F.month(d)),
                F.lit(" "),
                F.dayofmonth(d).cast("string"),
                F.lit(", "),
                F.year(d).cast("string"),
                F.lit(" without a vote"),
            )
        )
    )
    lang = F.when(variant == 1, F.lit("es")).otherwise(F.lit("en"))

    @F.pandas_udf("string")
    def extract_udf(texts: pd.Series, langs: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_date(t, [lg]) for t, lg in zip(texts, langs)], dtype="object"
        )

    rows = o.select(
        F.col("o_orderkey").alias("orderkey"), text.alias("text"), lang.alias("lang")
    )
    return rows.select(
        "orderkey", extract_udf(F.col("text"), F.col("lang")).alias("extracted_date")
    ).orderBy("orderkey")


_NER_FIRST_A = ["Maria", "Carlos", "Elena", "Pedro", "Sofia", "Miguel", "Lucia", "Andres"]
_NER_LAST_A = ["Navarro", "Ibanez", "Rosales", "Quintero", "Salgado", "Mendez", "Paredes", "Cabrera"]
_NER_FIRST_B = ["Tomas", "Irene", "Rafael", "Clara", "Hugo", "Nora", "Felipe", "Diana"]
_NER_LAST_B = ["Galindo", "Serrano", "Valdes", "Ochoa", "Riquelme", "Fuentes", "Barrera", "Linares"]


def q_ner_first_last(spark, sf_dir):
    """W8/M4 first/last NER appearance on the driver gate
    (functions/ner_lite.py tag_spans — the deterministic pattern-tagger
    stand-in for flair, NerFirstAppearanceMethod.py:13-49 contract;
    previously pytest-only). Sentences embed two PERSON names from fixed
    pools (chosen so the capitalized-sequence heuristic tags exactly the
    two names: lowercase context, no title/org/country/connector
    collisions), the real tagger runs in an Arrow-batched UDF, and the
    entry emits the FIRST and LAST person span per row — the reference
    method's two extraction modes. The oracle rebuilds both names from
    the same orderkey formulas, construction-derived and
    tagger-independent."""
    from trainable_entity_extractor_spark.functions.ner_lite import tag_spans

    fa = F.array(*[F.lit(x) for x in _NER_FIRST_A])
    la = F.array(*[F.lit(x) for x in _NER_LAST_A])
    fb = F.array(*[F.lit(x) for x in _NER_FIRST_B])
    lb = F.array(*[F.lit(x) for x in _NER_LAST_B])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    i1 = (k % 8 + 1).cast("int")
    i2 = ((k / 8).cast("long") % 8 + 1).cast("int")
    name_a = F.concat(F.element_at(fa, i1), F.lit(" "), F.element_at(la, i2))
    name_b = F.concat(F.element_at(fb, i1), F.lit(" "), F.element_at(lb, i2))
    text = F.concat(
        F.lit("the meeting was opened by "),
        name_a,
        F.lit(" before it was closed by "),
        name_b,
        F.lit(" at night"),
    )

    @F.pandas_udf("struct<first_person:string,last_person:string>")
    def ner_udf(texts: pd.Series) -> pd.DataFrame:
        firsts, lasts = [], []
        for t in texts:
            persons = [s for s, tag in tag_spans(t) if tag == "PERSON"]
            firsts.append(persons[0] if persons else None)
            lasts.append(persons[-1] if persons else None)
        return pd.DataFrame({"first_person": firsts, "last_person": lasts})

    return (
        o.select(F.col("o_orderkey").alias("orderkey"), text.alias("text"))
        .select("orderkey", ner_udf(F.col("text")).alias("p"))
        .select("orderkey", "p.first_person", "p.last_person")
        .orderBy("orderkey")
    )


# truecase entry vocabulary: ONE consistent casing per token in the fit
# corpus, so the truecaser's casing-variant argmax has a single candidate
# per word and the output is deterministically the training casing
_TRUECASE_VOCAB = [
    "the", "committee", "adopted", "Geneva", "Council", "report", "annual",
    "session", "Rapporteur", "budget", "programme", "Vienna", "draft",
    "resolution", "Secretariat", "review",
]


def q_truecase(spark, sf_dir):
    """X13 truecasing on the driver gate (functions/truecase.py — the
    reference TrueCaser.py algorithm with corpus-fit distributions in
    place of its pretrained Wikipedia pickles; previously pytest-only).
    The model is fit driver-side on a corpus where every vocab token has
    exactly one casing, sentences are constructed CASED from that vocab,
    lowercased natively, then restored by the real truecase kernel in an
    Arrow-batched UDF. With one observed casing per token the
    casing-variant argmax is singleton, so expected output == the cased
    construction — which is what the oracle rebuilds from the same
    orderkey formulas, kernel-independently."""
    from trainable_entity_extractor_spark.functions.truecase import (
        fit_truecaser,
        truecase,
    )

    model = fit_truecaser([" ".join(_TRUECASE_VOCAB)])
    vocab = F.array(*[F.lit(w) for w in _TRUECASE_VOCAB])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    words = [
        F.element_at(vocab, ((k * m + a) % 16 + 1).cast("int"))
        for m, a in ((1, 0), (3, 5), (7, 11), (5, 2))
    ]
    cased = F.concat_ws(" ", *words)

    @F.pandas_udf("string")
    def truecase_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([truecase(t, model) for t in texts], dtype="object")

    return (
        o.select(F.col("o_orderkey").alias("orderkey"), F.lower(cased).alias("lowered"))
        .select("orderkey", truecase_udf(F.col("lowered")).alias("recased"))
        .orderBy("orderkey")
    )


def _truecase_oracle_sql() -> str:
    lits = ", ".join(f"'{w}'" for w in _TRUECASE_VOCAB)
    parts = " || ' ' || ".join(
        f"([{lits}])[((o_orderkey * {m} + {a}) % 16)::INT + 1]"
        for m, a in ((1, 0), (3, 5), (7, 11), (5, 2))
    )
    return f"""
            SELECT o_orderkey AS orderkey, {parts} AS recased
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
    """


def _nw_letters_hash(s: str, n: int = 6) -> str:
    """Letters-only content hash (hex digits mapped to g-v): paragraph
    texts must contain no digits and no repeated words, because
    match_score's word/number features are set-over-length ratios — an
    identical pair scores exactly 1.0 ONLY when its token lists are
    duplicate-free (a repeated token made 'identical' pairs score 0.96
    and would poison the oracle)."""
    import hashlib

    return "".join(
        chr(ord("g") + int(c, 16)) for c in hashlib.sha256(s.encode()).hexdigest()[:n]
    )


def q_nw_alignment(spark, sf_dir):
    """J4 Needleman-Wunsch multilingual alignment on the driver gate
    (operators/alignment.py align_documents — cogroup + applyInPandas
    running clean → fix_segments repair → NW with the reference's
    13-feature match score; previously pytest/fixture-gated as 'not
    SQL-expressible'). Construction makes the expected output exact:
    each document's other-language list is IDENTICAL to the main list
    (duplicate-free letters-only tokens → every true pair scores exactly
    1.0 and NW's unique optimum is the diagonal), and every third
    document plants one unalignable noise paragraph at other-position 2,
    which the DP must route around with a gap — shifting other_idx by
    +1 from that point. The oracle generates (doc, i, i+shift, 1.0)
    straight from the planting rule: fully construction-derived, and it
    fails if the DP, the repair passes, the cleaning chain, or the score
    function deviate."""
    from trainable_entity_extractor_spark.operators.alignment import align_documents

    main_rows, other_rows = [], []
    for doc in range(80):
        texts = []
        for i in range(4):
            a, b = _nw_letters_hash(f"{doc}:{i}:a"), _nw_letters_hash(f"{doc}:{i}:b")
            texts.append(f"clause w{a} x{b} provision y{a[:3]}z")
        other = list(texts)
        if doc % 3 == 0:
            other.insert(2, "zzz unrelated noise entirely different content")
        for i, t in enumerate(texts):
            main_rows.append((f"d{doc}", i, t))
        for i, t in enumerate(other):
            other_rows.append((f"d{doc}", i, t))
    main_df = spark.createDataFrame(main_rows, "url string, seg_idx int, text string")
    other_df = spark.createDataFrame(other_rows, "url string, seg_idx int, text string")
    return (
        align_documents(main_df, other_df)
        .select("doc", "main_idx", "other_idx", "score")
        .orderBy("doc", "main_idx")
    )


def q_tournament_e2e(spark, sf_dir):
    """O1-O5 orchestration + M5 + S7 on the driver gate (driver.py +
    plans/tournament.py — extractor pick, method tournament with perfect
    early-exit, winner retrain, artifact manifest, and the Arrow-batched
    Spark predict path; previously gated by golden e2e pytest only). The
    multi-option extractor trains driver-side on an 8-sample fixture
    where TextFuzzyAll100 is exactly correct (tournament ends in a
    perfect early-exit, O3), then PREDICTS DISTRIBUTED over rows built
    natively from the orders table, each embedding a deterministic
    subset of the option labels. Every emitted field is
    construction-derived: the winner name (the oracle pins the
    tournament's argmax), and the sorted matched-option ids per row
    (containment semantics make the expected subset follow from the
    k%2/k%3/k%5 formula)."""
    from trainable_entity_extractor_spark.domain import ExtractionIdentifier, Option
    from trainable_entity_extractor_spark.driver import SparkTrainableEntityExtractor
    from trainable_entity_extractor_spark.session import scratch_dir_until_exit

    out_dir = scratch_dir_until_exit("tee_tourney_entry_")
    identifier = ExtractionIdentifier("tourney_entry", output_path=out_dir)
    options = [Option("1", "apple"), Option("2", "banana"), Option("3", "orange")]
    o = lambda i: options[i].to_dict()
    samples = pd.DataFrame(
        [
            {"sample_id": str(i), "source_text": t, "label_text": "", "values": v,
             "language_iso": "en", "segments": None}
            for i, (t, v) in enumerate(
                [
                    ("I like apple", [o(0)]),
                    ("I like banana", [o(1)]),
                    ("I like orange", [o(2)]),
                    ("I like apple and banana", [o(0), o(1)]),
                    ("I like banana and orange", [o(1), o(2)]),
                    ("I like apple and orange", [o(0), o(2)]),
                    ("I like apple, banana and orange", [o(0), o(1), o(2)]),
                    ("I like nothing", []),
                ]
            )
        ]
    )
    extractor = SparkTrainableEntityExtractor(spark, identifier)
    success, message = extractor.train(samples, options=options, multi_value=True)
    if not success:
        raise RuntimeError(f"tournament train failed: {message}")
    job = extractor.get_extractor_job()

    k = F.col("o_orderkey")
    text = F.concat(
        F.lit("the committee reviewed"),
        F.when(k % 2 == 0, F.lit(" apple")).otherwise(F.lit("")),
        F.when(k % 3 == 0, F.lit(" banana")).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.lit(" orange")).otherwise(F.lit("")),
        F.lit(" today"),
    )
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1500)
        .select(
            k.cast("string").alias("entity_name"),
            text.alias("source_text"),
            F.lit(None).cast("array<struct<seg_idx:int,page:int,left:double,top:double,width:double,height:double,seg_type:string,text:string,ml_label:int>>").alias("segments"),
        )
    )
    suggestions = extractor.predict(pred_rows)
    return suggestions.select(
        F.col("entity_name").cast("long").alias("orderkey"),
        F.lit(job.method_name).alias("winner"),
        F.array_join(
            F.array_sort(F.transform(F.col("values"), lambda v: v["id"])), ","
        ).alias("value_ids"),
    ).orderBy("orderkey")


def _selector_doc(doc: int, with_label: bool) -> list[dict]:
    """Synthetic training/test document for the segment-selector entry:
    6 segments, exactly one (position doc%6) carrying the marker words
    the label depends on — a perfectly separable task, so the trained
    selector's prediction is determined by the construction."""
    segs = []
    for i in range(6):
        marker = i == (doc % 6)
        text = (
            "magic clause payment due " if marker else "ordinary body text here "
        ) + f"w{doc} v{i}"
        seg = {
            "url": doc,
            "seg_idx": i,
            "text": text,
            "page": 1,
            "seg_type": "TEXT",
            "left": 72.0,
            "top": 100.0 + i * 80.0,
            "width": 451.0,
            "height": 12.0,
        }
        if with_label:
            seg["ml_label"] = 1 if marker else 0
        segs.append(seg)
    return segs


def q_segment_selector(spark, sf_dir):
    """M6 trainable segment selector on the driver gate
    (methods/segment_selector_full.py FullSegmentSelector — the 95-dim
    feature extraction + GBM; previously gated by pytest + the
    reference's own fixture assertion). The model is FIT driver-side on
    30 perfectly separable synthetic documents (one marker segment per
    doc), then runs DISTRIBUTED: test documents 30-89 are grouped by url
    and selected per-document via applyInPandas with the broadcast
    artifact — the reference's predict shape. On separable data the
    trained selector provably-in-practice picks exactly the marker
    segment (verified deterministic), so the oracle derives the expected
    (doc, doc % 6) pairs from the construction."""
    import pandas as pd_mod

    from trainable_entity_extractor_spark.methods.segment_selector_full import (
        FullSegmentSelector,
    )

    sel = FullSegmentSelector()
    art = sel.fit([_selector_doc(d, with_label=True) for d in range(30)])

    rows = [s for d in range(30, 90) for s in _selector_doc(d, with_label=False)]
    seg_df = spark.createDataFrame(
        rows,
        "url int, seg_idx int, text string, page int, seg_type string, "
        "left double, top double, width double, height double",
    )

    def run(pdf: pd_mod.DataFrame) -> pd_mod.DataFrame:
        segs = pdf.sort_values("seg_idx").to_dict("records")
        picked = FullSegmentSelector().select(segs, art)
        return pd_mod.DataFrame(
            {
                "doc": [int(s["url"]) for s in picked],
                "selected_idx": [int(s["seg_idx"]) for s in picked],
            }
        )

    return (
        seg_df.groupBy("url")
        .applyInPandas(run, schema="doc int, selected_idx int")
        .orderBy("doc", "selected_idx")
    )


def q_fuzzy_triples_88(spark, sf_dir):
    """M5/J1 sub-100 fuzzy threshold path on the driver gate
    (kg/triples.py extract_triples threshold=88 — the char-presence
    prefilter + Arrow-batched partial_ratio kernel; only the t=100
    containment path was driver-gated before). The construction keeps
    the oracle sound WITHOUT reimplementing partial_ratio: match rows
    embed the option label VERBATIM (partial_ratio is exactly 100 for a
    contained substring, trivially >= 88), and non-match rows use words
    whose alphabet is DISJOINT from the label's — the prefilter's
    missing-char mass (11 label chars absent) provably exceeds the indel
    budget floor(len*2*(1-t/100)) = 2, and the prefilter is
    exact-recall, so those rows can never match under ANY scorer. The
    expected set is therefore decided by the variant formula alone,
    which is what the oracle evaluates."""
    from trainable_entity_extractor_spark.kg.triples import extract_triples, options_df

    options = options_df(spark, [("1", "abacus cabal")])
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1200)
    seg = li.select("l_orderkey").distinct().select(
        F.col("l_orderkey").cast("string").alias("url"),
        F.lit(0).alias("seg_idx"),
        F.lit(1).alias("page"),
        F.when(
            F.col("l_orderkey") % 3 == 0,
            F.lit("intro abacus cabal motion green trend"),
        )
        .otherwise(F.lit("green trend might never end there"))
        .alias("text"),
    )
    return (
        extract_triples(seg, options, "mentions", threshold=88.0)
        .select("subj", "obj_id", "obj_label")
        .orderBy(F.col("subj").cast("long"))
    )


def q_lineage_replay(spark, sf_dir):
    """North-rule resumability on the driver gate (kg/materialize.py —
    bucket-partitioned write with per-partition lineage manifests,
    failure detection, and idempotent bucket replay; previously
    pytest-only). The entry LIVES the workflow: write a bucketed table +
    manifest, verify it, destroy two bucket partitions on disk, let
    `failed_buckets` detect exactly those from the manifest, replay only
    them with dynamic partition overwrite, and verify again. Every
    emitted field is either construction-derived (counts, which buckets
    were destroyed) or a content-hash verification result the oracle
    pins (replay must restore byte-identical per-bucket fingerprints, or
    the booleans flip and the hash gate fails)."""
    import shutil

    from trainable_entity_extractor_spark.kg.materialize import (
        failed_buckets,
        verify_manifest,
        write_partitioned,
    )
    from trainable_entity_extractor_spark.session import scratch_dir

    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select(F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("payload"))
    )
    with scratch_dir("tee_lineage_entry_") as d:
        write_partitioned(src, d, "id")
        ok_initial = verify_manifest(spark, d)
        for b in (3, 7):
            shutil.rmtree(f"{d}/bucket={b}", ignore_errors=True)
        bad = failed_buckets(spark, d)
        write_partitioned(src, d, "id", buckets=bad)
        ok_after = verify_manifest(spark, d)
        total = spark.read.parquet(d).count()
        row = (
            int(total),
            len(ok_initial),
            bool(all(ok_initial.values())),
            bool(sorted(bad) == [3, 7]),
            int(len(bad)),
            int(sum(1 for ok in ok_after.values() if not ok)),
            bool(all(ok_after.values())),
        )
    return spark.createDataFrame(
        [row],
        "total_rows bigint, n_buckets int, initial_ok boolean, "
        "deleted_detected boolean, failed_after_delete int, "
        "failed_after_replay int, replay_restored boolean",
    )


def q_similarity_ratios(spark, sf_dir):
    """X11 Indel/partial similarity kernels on the driver gate
    (functions/fuzzy.py indel_ratio / partial_ratio — the from-scratch
    rapidfuzz fuzz.ratio / fuzz.partial_ratio replacements underlying
    every fuzzy operator; previously gated only through threshold
    decisions inside other entries, never as raw scores). Prefix pairs
    over a 10-char distinct alphabet have closed-form Indel similarity
    100·2m/(m+10) — exactly representable IEEE ops on both engines, so
    the DOUBLE scores hash-match bit-for-bit — and planting the needle
    verbatim pins partial_ratio's window sweep at exactly 100.0."""
    from trainable_entity_extractor_spark.functions.fuzzy import (
        indel_ratio,
        partial_ratio,
    )

    alpha = "abcdefghij"
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    m = (F.col("o_orderkey") % 9 + 1).cast("int")
    rows = o.select(
        F.col("o_orderkey").alias("orderkey"),
        m.alias("m"),
        F.substring(F.lit(alpha), 1, 10).substr(F.lit(1), m).alias("s1"),
    )

    @F.pandas_udf("struct<indel:double,partial:double>")
    def ratio_udf(s1s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "indel": [indel_ratio(s, alpha) for s in s1s],
                "partial": [partial_ratio(s, "xx " + s + " yy") for s in s1s],
            }
        )

    return (
        rows.select("orderkey", "m", ratio_udf(F.col("s1")).alias("r"))
        .select("orderkey", "m", "r.indel", "r.partial")
        .orderBy("orderkey")
    )


def q_date_pick(spark, sf_dir):
    """W7 first/last date pick on the driver gate (methods/pdf_to_text.py
    FirstDateMethod/LastDateMethod — reference FirstDateMethod.py /
    LastDateMethod.py: scan segments in (reverse) order, first parseable
    date wins; previously exercised only inside composed-method tests).
    Five segments per orderkey: ISO dates derived from o_orderdate are
    planted at formula positions p1=k%5 and p2=(p1+1+k%4)%5 (offset 1–4,
    never equal), digit-free filler elsewhere — so FIRST picks the date
    at min(p1,p2) and LAST the one at max(p1,p2), both computable from
    the column. Fit runs driver-side (languages artifact); both real
    pandas kernels run distributed in one mapInPandas. The oracle
    rebuilds both dates with strftime/date arithmetic."""
    from trainable_entity_extractor_spark.methods.pdf_to_text import (
        FirstDateMethod,
        LastDateMethod,
    )

    first_m, last_m = FirstDateMethod(), LastDateMethod()
    artifact = first_m.fit(pd.DataFrame({"language_iso": ["en", "en"]}), {})

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    p1 = (k % 5).cast("int")
    p2 = ((p1 + 1 + k % 4) % 5).cast("int")
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon"]
    segs = F.array(
        *[
            F.struct(
                F.when(
                    F.lit(i) == p1,
                    F.concat(F.lit("signed on "), F.date_format(d, "yyyy-MM-dd")),
                )
                .when(
                    F.lit(i) == p2,
                    F.concat(
                        F.lit("ratified on "),
                        F.date_format(F.date_add(d, 40), "yyyy-MM-dd"),
                    ),
                )
                .otherwise(F.lit(f"clause {fillers[i]} pending review"))
                .alias("text")
            )
            for i in range(5)
        ]
    )
    rows = o.select(F.col("o_orderkey").alias("orderkey"), segs.alias("segments"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "first_date": first_m.predict_pandas(pdf, {}, artifact),
                    "last_date": last_m.predict_pandas(pdf, {}, artifact),
                }
            )

    return rows.mapInPandas(
        run, "orderkey long, first_date string, last_date string"
    ).orderBy("orderkey")


def q_llm_codegen(spark, sf_dir):
    """M9 LLM-codegen slot on the driver gate (methods/llm_codegen.py
    LlmCodegenTextMethod — the reference's Gemini/Ollama program-
    synthesis loop, GeminiTextMethod.py:10-48 + GeminiRun.py:17-228,
    with the deterministic synthesizer in the pluggable model slot).
    Fit runs the real 5→15→45 escalation driver-side on 30 constructed
    examples whose outputs share one induced shape ([A-Za-z]{2}-\\d{4}),
    so the synthesized artifact is a regex-family `extract` function;
    predict executes that GENERATED CODE distributed (restricted-exec
    inside mapInPandas) over inputs with different surrounding text than
    training — proving the synthesized program generalizes rather than
    memorizing boundaries. The oracle rebuilds the expected code string
    from the orderkey formula, synthesizer-independently."""
    from trainable_entity_extractor_spark.methods.llm_codegen import (
        LlmCodegenTextMethod,
    )

    method = LlmCodegenTextMethod()
    train = pd.DataFrame(
        {
            "source_text": [f"invoice AB-{1000 + i * 7} processed" for i in range(30)],
            "label_text": [f"AB-{1000 + i * 7}" for i in range(30)],
        }
    )
    artifact = method.fit(train, {})
    assert "re.search" in artifact["code"]

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    rows = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat(
            F.lit("document AB-"),
            (k % 9000 + 1000).cast("string"),
            F.lit(" archived today"),
        ).alias("source_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "value": method.predict_pandas(pdf, {}, artifact),
                }
            )

    return rows.mapInPandas(run, "orderkey long, value string").orderBy("orderkey")


def q_llm_codegen_multi(spark, sf_dir):
    """M9 multi-option seat on the driver gate (methods/llm_codegen.py
    LlmCodegenMultiOptionMethod — reference TextGeminiMultiOption.py:
    14-69 + GeminiRunMultiOption.py:12-97: option-scaled escalation,
    coverage-first first round, set-compare mistakes; deterministic
    containment synthesizer in the model slot). Fit runs driver-side on
    30 bitmask-labeled samples covering every option subset; the
    synthesized list-returning code then executes distributed over
    orderkey-bitmask texts (k%8 selects the embedded label subset), and
    the oracle rebuilds the expected id list with the same bit
    arithmetic — synthesizer-independent."""
    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
    )
    from trainable_entity_extractor_spark.methods.llm_codegen import (
        LlmCodegenMultiOptionMethod,
    )

    labels = ["human rights", "rule of law", "food security"]
    options = [Option(str(i + 1), lab) for i, lab in enumerate(labels)]
    ctx = ExtractionContext(
        ExtractionIdentifier("llm_codegen_multi_entry"), options=options, multi_value=True
    )
    method = LlmCodegenMultiOptionMethod()
    rows = []
    for i in range(30):
        labs = [labels[j] for j in range(3) if (i >> j) & 1]
        rows.append(
            {
                "source_text": (
                    "report covering " + " and ".join(labs) if labs else "empty report"
                ),
                "values": [
                    {"id": o.id, "label": o.label} for o in options if o.label in labs
                ],
            }
        )
    artifact = method.fit(pd.DataFrame(rows), ctx)
    assert "options = " in artifact["code"]

    k = F.col("o_orderkey")
    m = (k % 8).cast("int")
    text = F.concat_ws(
        " and ",
        *[F.when((m.bitwiseAND(1 << j)) != 0, F.lit(labels[j])) for j in range(3)],
    )
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 2500)
        .select(
            k.alias("orderkey"),
            F.when(text == "", F.lit("nothing relevant"))
            .otherwise(F.concat(F.lit("memo covering "), text))
            .alias("source_text"),
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = method.predict_pandas(pdf, ctx, artifact)
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "value_ids": [",".join(v["id"] for v in p) for p in preds],
                }
            )

    return pred_rows.mapInPandas(run, "orderkey long, value_ids string").orderBy(
        "orderkey"
    )


def q_scoring_metrics(spark, sf_dir):
    """A5/A6 tournament scoring on the driver gate (extractors/base.py
    micro_f1 / exact_match_accuracy — reference
    TextToMultiOptionExtractor one-hot micro-F1 and
    ToTextExtractorMethod.py:79-86 normalized exact match; previously
    gated only through tournament WINNERS, never as raw scores). Three
    formula-constructed scenarios with hand-derived values — 25% planted
    single-label errors (F1=75), systematic missing second label
    (F1=2·60·100/180), whitespace-insensitive exact match with 25%
    mismatches (75) — plus both empty-input edge cases; the real kernels
    run and the oracle states the closed-form literals."""
    from trainable_entity_extractor_spark.extractors.base import (
        exact_match_accuracy,
        micro_f1,
    )

    opts = [f"o{j}" for j in range(5)]
    truth = [[f"o{i % 5}"] for i in range(100)]
    preds = [[f"o{i % 5}"] if i % 4 else [f"o{(i + 1) % 5}"] for i in range(100)]
    f1_single = micro_f1(truth, preds, opts)

    f1_partial = micro_f1([["o0", "o1"]] * 60, [["o0"]] * 60, ["o0", "o1", "o2"])

    t_txt = [f"text {i % 5}" for i in range(100)]
    p_txt = [f"text  {i % 5} " if i % 4 else "wrong" for i in range(100)]
    acc = exact_match_accuracy(t_txt, p_txt)

    row = (
        float(f1_single),
        float(f1_partial),
        float(acc),
        float(micro_f1([], [], opts)),
        float(exact_match_accuracy([], [])),
    )
    return spark.createDataFrame(
        [row],
        "f1_single double, f1_partial double, exact_acc double, "
        "f1_empty double, acc_empty double",
    )


def q_suggestion_format(spark, sf_dir):
    """S7 suggestion output contract on the driver gate
    (extractors/base.py get_suggestions_spark — reference Suggestion.py +
    SegmentBox.py:10: values with ix-markup context, entity page_number
    from the first context segment, segments_boxes scaled UP by 1/0.75
    with integral rounding; the geometry/markup half was previously only
    pytest-gated — earlier entries project value ids alone). One segment
    per orderkey embeds an option label verbatim at threshold 100
    (FuzzyAll100), with formula geometry chosen so every scaled box
    coordinate is integral (no rounding ambiguity): left=30(k%4)→
    40(k%4), top 15→20, width 60→80, height 12→16, page k%3+1. The
    oracle rebuilds the full flattened row — id, label, the exact
    ix_matching_paragraph/ix_match markup string, page, and all five box
    fields — from the construction."""
    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
    )
    from trainable_entity_extractor_spark.extractors.base import ExtractorBase
    from trainable_entity_extractor_spark.methods.pdf_to_multi_option import (
        FuzzyAll100,
    )

    labels = ["human rights", "rule of law", "food security"]
    options = [Option(str(i + 1), lab) for i, lab in enumerate(labels)]
    ctx = ExtractionContext(
        ExtractionIdentifier("suggestion_format_entry"), options=options
    )
    method = FuzzyAll100()

    k = F.col("o_orderkey")
    lab_arr = F.array(*[F.lit(x) for x in labels])
    j = (k % 3).cast("int")
    seg_text = F.concat(
        F.lit("the committee noted "), F.element_at(lab_arr, j + 1), F.lit(" today")
    )
    seg = F.struct(
        F.lit(0).alias("seg_idx"),
        (k % 3 + 1).cast("int").alias("page"),
        (30.0 * (k % 4)).alias("left"),
        F.lit(15.0).alias("top"),
        F.lit(60.0).alias("width"),
        F.lit(12.0).alias("height"),
        F.lit("TEXT").alias("seg_type"),
        seg_text.alias("text"),
        F.lit(0).alias("ml_label"),
    )
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1500)
        .select(
            k.cast("string").alias("entity_name"),
            F.lit("").alias("source_text"),
            F.array(seg).alias("segments"),
        )
    )
    sug = ExtractorBase().get_suggestions_spark(pred_rows, method, ctx, {})
    v = F.element_at(F.col("values"), 1)
    b = F.element_at(F.col("segments_boxes"), 1)
    return sug.select(
        F.col("entity_name").cast("long").alias("orderkey"),
        v["id"].alias("value_id"),
        v["label"].alias("value_label"),
        v["segment_text"].alias("markup"),
        F.col("page_number"),
        b["left"].alias("box_left"),
        b["top"].alias("box_top"),
        b["width"].alias("box_width"),
        b["height"].alias("box_height"),
        b["page_number"].alias("box_page"),
    ).orderBy("orderkey")


def q_gliner_date(spark, sf_dir):
    """X8 GLiNER-slot date NER on the driver gate
    (methods/text_to_text.py GlinerStyleDateMethod — the deterministic
    stand-in reproducing reference GlinerDateParserMethod.py:13-57 +
    GlinerDateExtractor.py:30-60: alnum normalization, 50-word windows
    with 25-word stride, dedup, parseable filter, overlap removal, first
    date wins; the neural tagger replaced by the pattern span tagger).
    Each orderkey embeds ONE name-month date built from o_orderdate
    ('March 14 1995' form — alnum-safe) at word position k%60 inside 70
    letter-only filler words, so dates land in every window-overlap
    regime (single-window, double-window, slide-boundary) and the dedup
    + slide-index arithmetic is genuinely exercised. Fit runs
    driver-side on ISO labels (valid gate); predict runs the real
    pandas kernel distributed. The oracle is strftime(o_orderdate) —
    tagger- and window-arithmetic-independent."""
    from trainable_entity_extractor_spark.methods.text_to_text import (
        GlinerStyleDateMethod,
    )

    method = GlinerStyleDateMethod()
    artifact = method.fit(
        pd.DataFrame({"label_text": ["1995-03-14", "12 March 1998"]}), {}
    )
    assert artifact == {"is_valid": True}

    months = F.array(*[F.lit(m) for m in _MONTHS_EN])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    w = (k % 60).cast("int")
    date_words = F.concat(
        F.element_at(months, F.month(d)),
        F.lit(" "),
        F.dayofmonth(d).cast("string"),
        F.lit(" "),
        F.year(d).cast("string"),
    )
    filler = F.array_repeat(F.lit("filler"), 70)
    text = F.concat_ws(
        " ",
        F.concat(
            F.slice(filler, 1, w + 1),
            F.array(date_words),
            F.slice(filler, 1, 69 - w),
        ),
    )
    rows = o.select(F.col("o_orderkey").alias("orderkey"), text.alias("source_text"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "extracted_date": method.predict_pandas(pdf, {}, artifact),
                }
            )

    return rows.mapInPandas(run, "orderkey long, extracted_date string").orderBy(
        "orderkey"
    )


def q_empty_placeholder(spark, sf_dir):
    """F15 empty-text placeholder on the driver gate
    (extractors/registry.py — reference TextToMultiOptionExtractor.py:90:
    empty/whitespace/NULL source_text becomes the 'EMPTY' placeholder;
    previously pytest-only). Texts are dirtied four ways by orderkey
    (clean, empty string, whitespace-only, NULL) and pushed through BOTH
    real paths — the native `fix_empty_prediction` column expression and
    the pandas `prepare_samples` kernel (in a mapInPandas) — emitting
    both results so the oracle pins that the two implementations agree
    with each other AND with the construction."""
    from trainable_entity_extractor_spark.extractors.registry import (
        TextToMultiOptionExtractor,
    )

    ext = TextToMultiOptionExtractor()
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    v = (k % 4).cast("int")
    text = (
        F.when(v == 0, F.concat(F.lit("order text "), k.cast("string")))
        .when(v == 1, F.lit(""))
        .when(v == 2, F.lit("   "))
        .otherwise(F.lit(None).cast("string"))
    )
    rows = o.select(F.col("o_orderkey").alias("orderkey"), text.alias("source_text"))
    fixed = ext.fix_empty_prediction(rows).withColumnRenamed(
        "source_text", "native_fixed"
    )

    def pandas_path(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            prepared = ext.prepare_samples(pdf, None)
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "pandas_fixed": prepared["source_text"],
                }
            )

    pandas_fixed = rows.mapInPandas(pandas_path, "orderkey long, pandas_fixed string")
    return (
        fixed.join(pandas_fixed, "orderkey")
        .select("orderkey", "native_fixed", "pandas_fixed")
        .orderBy("orderkey")
    )


def q_orchestration_hygiene(spark, sf_dir):
    """O6+O7 orchestration policies on the driver gate (domain.py
    clean_stale_extractions / ExtractionIdentifier.ensure_fresh_folder —
    reference ExtractionIdentifier.is_old:52-54 2-day staleness window +
    LocalJobExecutor.ensure_fresh_model_folder:33-46 — and
    extractors/base.py get_train_test_split / get_stratified_split —
    reference ExtractorBase.get_train_test_sets:60-76 and
    TextToMultiOptionExtractor.py:134-194; previously pytest-only). The
    entry LIVES the hygiene workflow driver-side: a backdated extraction
    dir is swept while a fresh sibling survives; a stale half-written
    model folder is wiped (marker file gone) while a fresh one keeps its
    artifacts; the three deterministic split regimes (<8 → all/all,
    n<15 → 80%/last-10, else 80/20) and the label-stratified override
    (>15% empty options on a 40-row 10-option corpus) are executed by
    the real policies. Every emitted field is a pinned boolean/count the
    oracle states as literals — any behavioral drift flips the hash."""
    import time
    from pathlib import Path

    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
        clean_stale_extractions,
    )
    from trainable_entity_extractor_spark.extractors.base import (
        get_stratified_split,
        get_train_test_split,
    )
    from trainable_entity_extractor_spark.session import scratch_dir

    with scratch_dir("tee_hygiene_") as base:
        old = Path(base) / "run1" / "old_e"
        fresh = Path(base) / "run1" / "fresh_e"
        old.mkdir(parents=True)
        fresh.mkdir(parents=True)
        os.utime(old, (time.time() - 3 * 86400,) * 2)
        removed = clean_stale_extractions(base)
        swept_stale = bool(str(old) in removed and not old.exists())
        kept_fresh = bool(fresh.exists())

        stale_ident = ExtractionIdentifier(
            extraction_name="m1", run_name="run2", output_path=base
        )
        p = stale_ident.get_path()
        p.mkdir(parents=True)
        (p / "marker.txt").write_text("x")
        os.utime(p, (time.time() - 7200,) * 2)
        stale_ident.ensure_fresh_folder()
        stale_folder_wiped = bool(p.exists() and not (p / "marker.txt").exists())

        live_ident = ExtractionIdentifier(
            extraction_name="m2", run_name="run2", output_path=base
        )
        p2 = live_ident.get_path()
        p2.mkdir(parents=True)
        (p2 / "marker.txt").write_text("x")
        live_ident.ensure_fresh_folder()
        fresh_folder_kept = bool((p2 / "marker.txt").exists())

        sizes = []
        for n in (5, 10, 100):
            tr, te = get_train_test_split(pd.DataFrame({"x": range(n)}))
            sizes += [len(tr), len(te)]

        opts = [Option(id=f"o{i}", label=f"L{i}") for i in range(10)]
        ctx = ExtractionContext(
            identifier=ExtractionIdentifier(extraction_name="e", run_name="r"),
            options=opts,
        )
        samples = pd.DataFrame(
            [
                {"x": i, "values": [{"id": f"o{i % 4}", "label": f"L{i % 4}"}]}
                for i in range(40)
            ]
        )
        s_tr, s_te = get_stratified_split(samples, ctx)
        row = (
            swept_stale,
            kept_fresh,
            stale_folder_wiped,
            fresh_folder_kept,
            *sizes,
            len(s_tr),
            len(s_te),
            bool(not (set(s_tr.index) & set(s_te.index))),
        )
    return spark.createDataFrame(
        [row],
        "swept_stale boolean, kept_fresh boolean, stale_folder_wiped boolean, "
        "fresh_folder_kept boolean, split5_train int, split5_test int, "
        "split10_train int, split10_test int, split100_train int, "
        "split100_test int, strat_train int, strat_test int, strat_disjoint boolean",
    )


def q_sanitize_language(spark, sf_dir):
    """F16 language sanitize on the driver gate (functions/text.py
    sanitize_language — 2-letter-prefix into the known locale set, else
    'en'; ExtractionData language_iso hygiene). The documents table's
    clean codes are deterministically dirtied five ways (as-is, upper,
    region-suffixed, unknown, NULL) and pushed through the real native
    column expression; the oracle reproduces the dirtying AND the
    sanitize rule in SQL with the same KNOWN_LANGS list inlined."""
    from trainable_entity_extractor_spark.functions.text import sanitize_language

    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 5
    messy = (
        F.when(v == 0, F.col("lang"))
        .when(v == 1, F.upper(F.col("lang")))
        .when(v == 2, F.concat(F.col("lang"), F.lit("-XX")))
        .when(v == 3, F.lit("zz"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        d.select(sanitize_language(messy).alias("lang_sanitized"))
        .groupBy("lang_sanitized")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_sanitized")
    )


def _sanitize_language_oracle_sql() -> str:
    from trainable_entity_extractor_spark.functions.text import KNOWN_LANGS

    langs = ", ".join(f"'{x}'" for x in sorted(KNOWN_LANGS))
    return f"""
            WITH messy AS (
                SELECT CASE (doc_id % 5)
                         WHEN 0 THEN lang
                         WHEN 1 THEN upper(lang)
                         WHEN 2 THEN lang || '-XX'
                         WHEN 3 THEN 'zz'
                         ELSE NULL END AS m
                FROM documents
            ), sane AS (
                SELECT CASE WHEN lower(substring(coalesce(m, ''), 1, 2)) IN ({langs})
                            THEN lower(substring(coalesce(m, ''), 1, 2))
                            ELSE 'en' END AS lang_sanitized
                FROM messy
            )
            SELECT lang_sanitized, count(*)::BIGINT AS n_docs
            FROM sane GROUP BY lang_sanitized ORDER BY lang_sanitized
    """


_REGEX_PREFIXES = ["PRE", "DOC", "REF", "ACT"]


def q_regex_extraction(spark, sf_dir):
    """X9/M2 regex induction on the driver gate (functions/rexpy_lite.py
    — the from-scratch replacement for tdda rexpy, RegexMethod.py:13-18
    contract; previously pytest-only). The pattern is INDUCED by the real
    `extract` kernel from three training codes at plan-build time,
    unanchored the way the reference does (`regex[1:-1]`), and then runs
    as a NATIVE `regexp_extract` inside whole-stage codegen — no Python
    in the distributed path. Sentences embed one synthetic code per row;
    the oracle rebuilds the expected code from the same orderkey
    formulas, induction-independently."""
    from trainable_entity_extractor_spark.functions.rexpy_lite import extract

    pattern = extract(["PRE-1234", "PRE-5678", "PRE-9012"])[0][1:-1]
    prefixes = F.array(*[F.lit(p) for p in _REGEX_PREFIXES])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    code = F.concat(
        F.element_at(prefixes, (k % 4 + 1).cast("int")),
        F.lit("-"),
        (k % 9000 + 1000).cast("string"),
    )
    text = F.concat(F.lit("invoice code "), code, F.lit(" issued for processing"))
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.regexp_extract(text, pattern, 0).alias("code"),
    ).orderBy("orderkey")


# fuzzy first/last entry labels: mutually non-substring, letters-only (the
# digit-filler segments share no letters, so no sub-100 threshold can fire
# before the planted verbatim hit). The SQL oracle embeds the same list.
_FFL_LABELS = ["human rights council", "general assembly", "security council"]


def q_fuzzy_first_last(spark, sf_dir):
    """J2/M5 first+last fuzzy appearance on the driver gate
    (functions/fuzzy.py fuzzy_first_last_appearance — reference
    FuzzyFirst.py:21-31 / FuzzyLast.py scan order: segments in (reverse)
    order, thresholds 100→70 step −10, options longest-first, first hit
    wins; previously exercised only inside the tournament entries). Six
    segments per orderkey: two planted verbatim labels at formula
    positions p1=k%6 and p2=(5k+3)%6 (never equal: 4k+3 is odd mod 6),
    digit-only filler elsewhere — filler shares no letters with any
    label, so the scan provably first fires at threshold 100 on the
    planted segments and (first, last) = labels at (min, max) position.
    The kernel runs both directions in one Arrow batch; the oracle
    rebuilds labels AND context texts from the same formulas."""
    from trainable_entity_extractor_spark.functions.fuzzy import (
        fuzzy_first_last_appearance,
    )

    opts = sorted(_FFL_LABELS, key=len, reverse=True)
    labels = F.array(*[F.lit(x) for x in _FFL_LABELS])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    p1 = (k % 6).cast("int")
    p2 = ((k * 5 + 3) % 6).cast("int")
    a = (k % 3).cast("int")
    la = F.element_at(labels, a + 1)
    lb = F.element_at(labels, (a + 1) % 3 + 1)
    segs = F.array(
        *[
            F.when(
                F.lit(i) == p1,
                F.concat(F.lit(f"entry "), k, F.lit(f" item {i} "), la, F.lit(" noted")),
            )
            .when(
                F.lit(i) == p2,
                F.concat(F.lit(f"entry "), k, F.lit(f" item {i} "), lb, F.lit(" noted")),
            )
            .otherwise(F.concat(k.cast("string"), F.lit(f" {i} 0000 1111")))
            for i in range(6)
        ]
    )

    @F.pandas_udf(
        "struct<first_label:string,first_ctx:string,last_label:string,last_ctx:string>"
    )
    def ffl_udf(seg_lists: pd.Series) -> pd.DataFrame:
        recs = []
        for segs_ in seg_lists:
            first = fuzzy_first_last_appearance(list(segs_), opts, False)
            last = fuzzy_first_last_appearance(list(segs_), opts, True)
            recs.append(
                {
                    "first_label": first[0] if first else None,
                    "first_ctx": first[1] if first else None,
                    "last_label": last[0] if last else None,
                    "last_ctx": last[1] if last else None,
                }
            )
        return pd.DataFrame(recs)

    return (
        o.select(F.col("o_orderkey").alias("orderkey"), ffl_udf(segs).alias("r"))
        .select("orderkey", "r.first_label", "r.first_ctx", "r.last_label", "r.last_ctx")
        .orderBy("orderkey")
    )


# text-variant labels: all two-word (max_words=2 windows), letters-only —
# digit filler words keep every non-planted window's fuzzy score far below
# the 70 floor, so no early window can pre-empt the verbatim hit
_TFFL_LABELS = ["human rights", "security council", "general assembly"]


def q_text_fuzzy_first_last(spark, sf_dir):
    """J2 text-variant first/last fuzzy appearance on the driver gate
    (functions/fuzzy.py text_fuzzy_first_last_appearance — reference
    TextFuzzyFirst.py:18-32 / TextFuzzyLast.py: sliding word windows of
    width max(option word counts), thresholds 100→70 per window, first
    hit wins; a genuinely different scan shape from the segment-list
    variant gated by `fuzzy_first_last`). Thirteen digit words per
    orderkey with two two-word labels spliced at formula positions
    w1=k%5 and w2=7+k%4 (disjoint ranges); digit windows score far below
    the 70 floor, so the forward scan provably first matches the label
    at w1 and the reverse scan the one at w2. The oracle indexes the
    same label list by the same formulas."""
    from trainable_entity_extractor_spark.functions.fuzzy import (
        text_fuzzy_first_last_appearance,
    )

    a1 = F.array(*[F.lit(x.split()[0]) for x in _TFFL_LABELS])
    a2 = F.array(*[F.lit(x.split()[1]) for x in _TFFL_LABELS])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    w1 = (k % 5).cast("int")
    w2 = (F.lit(7) + k % 4).cast("int")
    ai = (k % 3).cast("int")
    bi = ((k + 1) % 3).cast("int")
    words = [
        F.when(F.lit(i) == w1, F.element_at(a1, ai + 1))
        .when(F.lit(i) == w1 + 1, F.element_at(a2, ai + 1))
        .when(F.lit(i) == w2, F.element_at(a1, bi + 1))
        .when(F.lit(i) == w2 + 1, F.element_at(a2, bi + 1))
        .otherwise(F.lit(str(1000 + 7 * i)))
        for i in range(13)
    ]
    text = F.concat_ws(" ", *words)

    @F.pandas_udf("struct<first_label:string,last_label:string>")
    def tffl_udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "first_label": [
                    text_fuzzy_first_last_appearance(t, _TFFL_LABELS, False)
                    for t in texts
                ],
                "last_label": [
                    text_fuzzy_first_last_appearance(t, _TFFL_LABELS, True)
                    for t in texts
                ],
            }
        )

    return (
        o.select(F.col("o_orderkey").alias("orderkey"), tffl_udf(text).alias("r"))
        .select("orderkey", "r.first_label", "r.last_label")
        .orderBy("orderkey")
    )


def q_regex_subtraction(spark, sf_dir):
    """X10 regex-subtraction method end-to-end on the driver gate
    (methods/text_to_text.py RegexSubtractionMethod — reference
    RegexSubtractionMethod.py:13-96: learn boundary regexes from the
    (input − label) prefixes/suffixes of the TRAIN set via rexpy
    induction, strip them at predict; previously pytest-only). Fit runs
    driver-side on a 30-row constructed corpus with constant boundaries
    ('Ref: ' / ' .End'), so the induced artifact is exactly one front +
    one back regex; predict runs the real pandas kernel distributed
    (mapInPandas, no shuffle) over orderkey-formula inputs. The oracle
    rebuilds the stripped value ('w'||orderkey) from the construction —
    induction- and kernel-independent."""
    from trainable_entity_extractor_spark.methods.text_to_text import (
        RegexSubtractionMethod,
    )

    method = RegexSubtractionMethod()
    train = pd.DataFrame(
        {
            "source_text": [f"Ref: v{i:04d} .End" for i in range(30)],
            "label_text": [f"v{i:04d}" for i in range(30)],
        }
    )
    assert method.can_be_used(train, {})
    artifact = method.fit(train, {})

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    rows = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat(F.lit("Ref: w"), F.col("o_orderkey"), F.lit(" .End")).alias(
            "source_text"
        ),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "value": method.predict_pandas(pdf, {}, artifact),
                }
            )

    return rows.mapInPandas(run, "orderkey long, value string").orderBy("orderkey")


def q_context_markup(spark, sf_dir):
    """X12 suggestion-context HTML markup on the driver gate
    (functions/context_markup.py format_segment_text — reference
    domain/FormatSegmentText.py:14-183 output contract: matching
    paragraphs as <p class="ix_matching_paragraph"> with
    <span class="ix_match"> highlights, ±1 neighbors as
    ix_adjacent_paragraph, others dropped; previously pytest-only).
    Three paragraphs per orderkey, an escape-free non-date label
    'tag'||k%7 planted exactly once at position k%3 — the exact-regex
    path fires (no fuzzy, no date components), so the full markup string
    is a closed-form function of (k%3, k%7) that the oracle assembles
    with CASE + concatenation, kernel-independently."""
    from trainable_entity_extractor_spark.functions.context_markup import (
        format_segment_text,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    p = (k % 3).cast("int")
    label = F.concat(F.lit("tag"), (k % 7).cast("string"))
    bases = [
        F.concat(F.lit("alpha section "), k.cast("string")),
        F.concat(F.lit("middle part "), k.cast("string")),
        F.concat(F.lit("closing note "), k.cast("string")),
    ]
    texts = F.array(
        *[
            F.when(
                F.lit(i) == p, F.concat(b, F.lit(" has "), label, F.lit(" inside"))
            ).otherwise(b)
            for i, b in enumerate(bases)
        ]
    )

    @F.pandas_udf("string")
    def markup_udf(text_lists: pd.Series, labels_: pd.Series) -> pd.Series:
        return pd.Series(
            [
                format_segment_text(list(ts), lb)
                for ts, lb in zip(text_lists, labels_)
            ]
        )

    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        markup_udf(texts, label).alias("markup"),
    ).orderBy("orderkey")


def q_identity_methods(spark, sf_dir):
    """M1 identity methods on the driver gate (methods/text_to_text.py
    SameInputOutputMethod + InputWithoutSpaces — reference
    SameInputOutputMethod.py / InputWithoutSpaces.py: whitespace-
    normalized echo and whitespace-stripped echo, the tournament's
    baseline rungs; previously exercised only inside tournament_e2e).
    Inputs carry irregular runs of spaces built by formula; both real
    pandas kernels run in one distributed mapInPandas and the oracle
    rebuilds both outputs with plain concatenation."""
    from trainable_entity_extractor_spark.methods.text_to_text import (
        InputWithoutSpaces,
        SameInputOutputMethod,
    )

    ident, nospace = SameInputOutputMethod(), InputWithoutSpaces()
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    rows = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat(
            F.lit("  item   "),
            k.cast("string"),
            F.lit("  of  batch "),
            (k % 9).cast("string"),
            F.lit(" "),
        ).alias("source_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "orderkey": pdf["orderkey"],
                    "normalized": ident.predict_pandas(pdf, {}, {}),
                    "squashed": nospace.predict_pandas(pdf, {}, {}),
                }
            )

    return rows.mapInPandas(
        run, "orderkey long, normalized string, squashed string"
    ).orderBy("orderkey")


def _country_pairs() -> list[tuple[str, str]]:
    """Deterministic (canonical, variant) pairs whose embedding sentence
    yields exactly one gazetteer hit — computed once from the same public
    COUNTRIES dict on BOTH the Spark and the oracle side, so the entry
    checks the matcher against the construction, not against itself."""
    from trainable_entity_extractor_spark.functions.countries import (
        COUNTRIES,
        find_countries,
    )

    pairs = []
    for canon in sorted(COUNTRIES):
        for v in [canon] + COUNTRIES[canon]:
            if find_countries(f"the delegation of {v} submitted the draft resolution") == [canon]:
                pairs.append((canon, v))
    return pairs


def q_country_extraction(spark, sf_dir):
    """J6 gazetteer join on the driver gate (functions/countries.py
    find_countries — the from-scratch replacement for the reference's
    country_named_entity_recognition dependency, TextToCountries.py:6;
    previously pytest-only). Sentences embed one country VARIANT (incl.
    alternate forms like 'Czech Republic', 'Swaziland', 'PRC') chosen by
    orderkey; the Arrow-batched UDF runs the real longest-variant-first
    matcher and emits the canonical name. The oracle indexes the same
    canonical list by the same formula — construction-derived, matcher-
    independent."""
    from trainable_entity_extractor_spark.functions.countries import find_countries

    pairs = _country_pairs()
    variants = F.array(*[F.lit(v) for _, v in pairs])
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    idx = (F.col("o_orderkey") % len(pairs)).cast("int")
    text = F.concat(
        F.lit("the delegation of "),
        F.element_at(variants, idx + 1),
        F.lit(" submitted the draft resolution"),
    )

    @F.pandas_udf("string")
    def first_country_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [(found[0] if (found := find_countries(t)) else None) for t in texts],
            dtype="object",
        )

    return (
        o.select(F.col("o_orderkey").alias("orderkey"), text.alias("text"))
        .select("orderkey", first_country_udf(F.col("text")).alias("country"))
        .orderBy("orderkey")
    )


def _country_oracle_sql() -> str:
    pairs = _country_pairs()
    lits = ", ".join("'" + c.replace("'", "''") + "'" for c, _ in pairs)
    return f"""
            SELECT o_orderkey AS orderkey,
                   ([{lits}])[(o_orderkey % {len(pairs)})::INT + 1] AS country
            FROM orders WHERE o_orderkey < 3000 ORDER BY orderkey
    """


def q_streaming_distinct_users(spark, sf_dir):
    """§2.10 second Structured Streaming entry: STATEFUL STREAMING DEDUP
    chained into an aggregation (streaming/micro_batch.py holds the
    restart-resume variant; this is the driver-gated form). The events
    table is re-read as a file stream; dropDuplicates on
    (event_type, user_id) keeps first-seen state per pair, then a
    complete-mode count per event_type drains with
    trigger(availableNow=True). WHICH arrival survives dedup is
    order-dependent, but the projection keeps only the dedup KEY columns,
    so the surviving set — and therefore the count — is
    arrival-order-insensitive and equals batch COUNT(DISTINCT): a sound
    DuckDB oracle for a chained stateful-dedup + aggregation streaming
    plan."""
    import uuid

    path = f"{sf_dir}/events.parquet"
    batch_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    deduped = stream.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_distinct_users"))
    name = f"tee_stream_distinct_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    return spark.table(name).orderBy("event_type")


def q_streaming_running_totals(spark, sf_dir):
    """§2.10 third Structured Streaming entry: a CUSTOM STATEFUL OPERATOR
    (applyInPandasWithState — streaming/micro_batch.py running_totals;
    the first_seen dedup variant stays pytest-gated because its emitted
    ROW is arrival-order-dependent). Events are rewritten as a 4-file
    directory so availableNow genuinely drains MULTIPLE micro-batches
    (maxFilesPerTrigger=1) and per-key state must survive across them.
    The operator keeps (count, sum(event_id)) state per user and emits
    the running totals after every batch the user appears in; the
    returned frame takes max() per user over the append-mode memory
    sink. Running totals of nonnegative contributions only grow and end
    at the whole-stream totals, so max(emitted) == batch GROUP BY
    regardless of how repartition(4) split the rows — a full DuckDB
    oracle for user-controlled streaming state."""
    from trainable_entity_extractor_spark.session import scratch_dir
    from trainable_entity_extractor_spark.streaming.micro_batch import (
        running_totals,
    )

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_id")
        .repartition(4)
    )
    with scratch_dir("tee_stream_rt_") as in_dir:
        events.write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema("user_id long, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        name = os.path.basename(in_dir)  # unique, and a valid view name
        q = (
            running_totals(stream, "user_id", "event_id")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()
        return (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_so_far").alias("n_events"),
                F.max("total_so_far").alias("sum_event_id"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )


# one constant pair shared by the Spark query AND its driver-side parity
# oracle (_parity_phash_sql) — they must describe the SAME synthetic corpus
_PHASH_N, _PHASH_SEED = 200, 7


def q_phash_dedup(spark, sf_dir):
    """multimodal: perceptual-hash duplicate buckets over REAL PNG blobs
    (from-scratch zlib+numpy decode, operators/multimodal.py). The asset
    table is synthesized deterministically (no external data); every 5th
    image repeats the previous one's pixels under a different wire
    encoding, which byte-level dedup misses and pHash catches.

    Oracle: no SQL engine decodes PNG, so the oracle is an
    EXECUTOR-VS-DRIVER PARITY check — `_parity_phash_sql` recomputes the
    expected pHashes with the same pure-Python codec in a driver-side
    loop (no Spark), inlines them as a VALUES list, and DuckDB reproduces
    the bucket aggregation over it. Not codec-independent (pixel-exact
    decode + phash invariance stay pytest-gated in
    tests/test_multimodal.py), but it catches partition/Arrow
    nondeterminism in the distributed decode path."""
    from trainable_entity_extractor_spark.operators.multimodal import (
        phash_duplicates,
        synth_png_assets,
    )

    assets = synth_png_assets(spark, _PHASH_N, seed=_PHASH_SEED)
    return phash_duplicates(assets).orderBy("phash")


def q_jpeg_phash_dedup(spark, sf_dir):
    """multimodal: perceptual-hash duplicate buckets over REAL baseline
    JPEG blobs (from-scratch ITU-T T.81 codec, operators/jpeg.py —
    round 5). Every 5th asset repeats the previous one's pixels
    RE-ENCODED AT A DIFFERENT JPEG QUALITY: the bytes differ (byte-level
    dedup misses the pair) but the 8x8-block content decodes identically,
    so the average phash buckets them — lossy-format-crossing dedup.

    Oracle: executor-vs-driver parity like `phash_dedup`
    (`_parity_phash_sql` recomputes expected pHashes with the same
    pure-Python codec driver-side; DuckDB aggregates the inlined rows).
    Codec wire-format compliance is separately pytest-gated both ways
    against javax.imageio (tests/test_jpeg.py)."""
    from trainable_entity_extractor_spark.operators.multimodal import (
        phash_duplicates,
        synth_jpeg_assets,
    )

    assets = synth_jpeg_assets(spark, _PHASH_N, seed=_PHASH_SEED)
    return phash_duplicates(assets).orderBy("phash")


def q_lang_id(spark, sf_dir):
    """Text-analysis language ID on the driver gate
    (operators/text_analysis.py lang_id — stopword-vote argmax with 'en'
    fallback, all native column expressions; previously pytest-only).

    Construction-derived oracle: each row's text is BUILT to be dominated
    by one language's marker words (3x the dominant pool = 15 hits) with a
    1x contaminant pool (5 hits) from a second, formula-chosen language —
    so the expected argmax is known from the o_orderkey formula alone, and
    every 7th row carries marker-free noise to pin the 'en' fallback. The
    kernel votes over the REAL marker sets; the oracle recomputes the
    expected language from the construction formula, never from the
    kernel. Cross-list overlaps ('la' is in both es and fr pools) keep
    non-dominant scores <= 8 < 15, so dominance is provable."""
    from trainable_entity_extractor_spark.operators.text_analysis import (
        LANG_MARKERS,
        lang_id,
    )

    langs = sorted(LANG_MARKERS)  # de, en, es, fr
    dom_texts = F.array(*[F.lit(" ".join(LANG_MARKERS[lg] * 3)) for lg in langs])
    con_texts = F.array(*[F.lit(" ".join(LANG_MARKERS[lg])) for lg in langs])
    okey = F.col("o_orderkey")
    text = F.when(okey % 7 == 0, F.lit("zzz qqq vvv kroxx blarn")).otherwise(
        F.concat(
            F.element_at(dom_texts, (okey % 4).cast("int") + 1),
            F.lit(" "),
            F.element_at(con_texts, ((okey / 4).cast("long") % 4).cast("int") + 1),
        )
    )
    docs = (
        _t(spark, sf_dir, "orders")
        .filter(okey < 4000)
        .select(okey.alias("doc_id"), text.alias("text"))
    )
    return lang_id(docs).orderBy("doc_id")


def q_salted_distinct_parts(spark, sf_dir):
    """Skew utilities on the driver gate (operators/skew.py — salt-based
    mitigation for non-associative aggs, the north rule's explicit
    skew-handling requirement; previously pytest-only). Exact per-supplier
    distinct-part count via value-sharded two-stage aggregation
    (salted_count_distinct: same value -> same shard, per-shard distincts
    add exactly) joined with the salted collect_set's size
    (salted_collect_set: per-key set built in n_salts shards, merged with
    flatten+array_distinct). Both must equal the plain COUNT(DISTINCT)
    the oracle computes — the salting is a physical rewrite, not a
    semantic one, and this entry pins that."""
    from trainable_entity_extractor_spark.operators.skew import (
        salted_collect_set,
        salted_count_distinct,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    counted = salted_count_distinct(li, "l_suppkey", "l_partkey", n_salts=16)
    collected = salted_collect_set(li, "l_suppkey", "l_partkey", n_salts=16)
    return (
        counted.join(
            collected.select("l_suppkey", F.size("values").alias("n_collected")),
            "l_suppkey",
        )
        .select("l_suppkey", "n_distinct", F.col("n_collected").cast("long").alias("n_collected"))
        .orderBy("l_suppkey")
    )


def q_ivf_topk(spark, sf_dir):
    """IVF similarity search on the driver gate
    (operators/similarity.py fit_ivf_centroids + ivf_assign + ivf_topk —
    the partition-pruned ANN scale path; previously pytest-only). The
    coarse quantizer is fit driver-side over a bounded, order-stable
    sample (like every trainable artifact in this engine), vectors get
    their nearest-centroid cell via an Arrow-batched GEMM, and the search
    brute-forces only the probed cells.

    Oracle-pinned EXACT form: with nprobe = n_centroids every cell is
    probed, so the result must equal brute-force cosine top-k — the same
    list_dot_product oracle as `cosine_topk`. This gates the full IVF
    plumbing (deterministic fit, assignment UDF, probe-cell pruning
    filter, scoring); the recall-vs-nprobe tradeoff of partial probing is
    pytest-gated (tests/test_similarity.py)."""
    from trainable_entity_extractor_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    n_cells = 8
    centroids = fit_ivf_centroids(e, n_centroids=n_cells, iters=4, sample=256)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    out = ivf_topk(
        e.filter(F.col("vec_id") != 0), qvec, centroids, k=10, nprobe=n_cells
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _synth_three_segments(spark, sf_dir, texts, pages):
    """Shared construction for the per-document segment-kernel entries:
    three TEXT segments per order (o_orderkey < 2000), texts/pages given
    as per-index column expressions over `k` = o_orderkey."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg_idx"),
                pages[i].cast("int").alias("page"),
                F.lit("TEXT").alias("seg_type"),
                texts[i].alias("text"),
            )
            for i in range(len(texts))
        ]
    )
    return (
        o.select(F.col("o_orderkey").alias("doc_id"), F.explode(segs).alias("s"))
        .select("doc_id", "s.seg_idx", "s.page", "s.seg_type", "s.text")
    )


def q_cross_page_fix(spark, sf_dir):
    """W10 cross-page segment fix on the driver gate
    (methods/pdf_to_multi_option.py fix_two_pages_segments —
    FastSegmentSelectorFuzzy95.fix_two_pages_segments:128-161 semantics;
    previously pytest-only). Three constructed variants per document pin
    all three branches: variant 0 (no trailing '.' + next text segment on
    a LATER page) must merge and drop the absorbed segment; variant 1
    (no '.' but same page) and variant 2 (trailing '.') must not. The
    kernel runs per-document (map_groups: one mapInArrow pass); the
    oracle rebuilds the expected segment lists from the o_orderkey % 3
    formula, never from the kernel."""
    import pandas as pd_mod

    from trainable_entity_extractor_spark.methods.pdf_to_multi_option import (
        fix_two_pages_segments,
    )
    from trainable_entity_extractor_spark.operators.sorted_groups import map_groups

    k = F.col("o_orderkey").cast("string")
    variant = F.col("o_orderkey") % 3
    texts = [
        F.concat(
            F.lit("sentence zero for order "),
            k,
            F.when(variant == 2, F.lit(".")).otherwise(F.lit("")),
        ),
        F.concat(F.lit("sentence one for order "), k, F.lit(".")),
        F.concat(F.lit("sentence two for order "), k, F.lit(".")),
    ]
    pages = [F.lit(1), F.when(variant == 1, F.lit(1)).otherwise(F.lit(2)), F.lit(2)]
    seg_df = _synth_three_segments(spark, sf_dir, texts, pages)

    def run(pdf: pd_mod.DataFrame) -> pd_mod.DataFrame:
        segs = pdf.sort_values("seg_idx").to_dict("records")
        fixed = fix_two_pages_segments(segs)
        return pd_mod.DataFrame(
            {
                "doc_id": [int(s["doc_id"]) for s in fixed],
                "out_idx": list(range(len(fixed))),
                "page": [int(s["page"]) for s in fixed],
                "text": [s["text"] for s in fixed],
            }
        )

    return map_groups(
        seg_df, run, "doc_id long, out_idx int, page int, text string", "doc_id", "seg_idx"
    ).orderBy("doc_id", "out_idx")


def q_sentence_resegment(spark, sf_dir):
    """W9 sentence re-segmentation on the driver gate
    (methods/pdf_to_multi_option.py sentence_segments —
    SentenceSelectorFuzzyCommas:55-102 semantics; previously
    pytest-only). Three constructed variants pin the three behaviors:
    variant 0 ('.'-terminated segments) splits cleanly, variant 1
    (non-'.'-ending first segment) merges with ', ' before the split,
    variant 2 (a ',:'-bearing single segment) exercises the
    dangling-comma re-merge across split pieces — including the kernel's
    exact double-space join artifact, which the oracle reproduces
    literally. Expected rows come from the o_orderkey % 3 formula, never
    from the kernel."""
    import pandas as pd_mod

    from trainable_entity_extractor_spark.methods.pdf_to_multi_option import (
        sentence_segments,
    )
    from trainable_entity_extractor_spark.operators.sorted_groups import map_groups

    k = F.col("o_orderkey").cast("string")
    variant = F.col("o_orderkey") % 3
    texts = [
        F.when(
            variant == 2,
            F.concat(F.lit("one "), k, F.lit(" two,: three "), k, F.lit(" four.")),
        ).otherwise(
            F.concat(
                F.lit("alpha "),
                k,
                F.lit(" beta"),
                F.when(variant == 0, F.lit(".")).otherwise(F.lit("")),
            )
        ),
        F.when(variant == 2, F.lit("")).otherwise(
            F.concat(F.lit("gamma "), k, F.lit(" delta."))
        ),
    ]
    pages = [F.lit(1), F.lit(1)]
    seg_df = _synth_three_segments(spark, sf_dir, texts, pages).filter(
        F.col("text") != ""
    )

    def run(pdf: pd_mod.DataFrame) -> pd_mod.DataFrame:
        segs = pdf.sort_values("seg_idx").to_dict("records")
        sents = sentence_segments(segs)
        return pd_mod.DataFrame(
            {
                "doc_id": [int(s["doc_id"]) for s in sents],
                "sent_idx": list(range(len(sents))),
                "text": [s["text"] for s in sents],
            }
        )

    return map_groups(
        seg_df, run, "doc_id long, sent_idx int, text string", "doc_id", "seg_idx"
    ).orderBy("doc_id", "sent_idx")


def q_fuzzy_commas(spark, sf_dir):
    """J5 comma-split alias join on the driver gate
    (methods/pdf_to_multi_option.py FuzzyCommas — reference
    FuzzyCommas.py:25-170: split on ','/':'/' and ', clean, partial_ratio
    >= 92 inside the 0.92-1.2x length band, alias-dict fallback learned
    at fit from labeled segments; previously pytest-only). Fit runs
    driver-side on ONE training sample whose labeled segment text
    'the ruled of law' misses every option's length band, so the alias
    'the ruled of law' -> 'rule of law' is provably learned (fit's
    partial_ratio>80 gate). Predict runs DISTRIBUTED through the real
    mapInPandas suggestion path (extractors/base.py
    get_suggestions_spark). Every predict piece is decided by
    construction, not by the scorer: verbatim option labels score
    exactly 100 (>= 92, length ratio 1.0); the learned alias matches at
    indel 100 on its exact text while missing every option's length
    band; the noise piece 'jkpq vxzb jjkk' shares NO letter with any
    option or alias, so both partial_ratio and indel_ratio are exactly
    0. The expected id sequence therefore follows the k%2/k%3/k%5
    formula alone (k%5 emits '2' via the alias; the reference's
    duplicate-emission quirk keeps the repeat when k%15==0), which is
    what the oracle evaluates."""
    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
    )
    from trainable_entity_extractor_spark.extractors.base import ExtractorBase
    from trainable_entity_extractor_spark.methods.pdf_to_multi_option import FuzzyCommas

    options = [
        Option("1", "human rights"),
        Option("2", "rule of law"),
        Option("3", "food security"),
    ]
    ctx = ExtractionContext(
        ExtractionIdentifier("fuzzy_commas_entry"), options=options, multi_value=True
    )
    method = FuzzyCommas()
    train = pd.DataFrame(
        [
            {
                "sample_id": "0",
                "source_text": "",
                "label_text": "",
                "values": [{"id": "2", "label": "rule of law"}],
                "language_iso": "en",
                "segments": [{"text": "the ruled of law", "ml_label": 1, "page": 1}],
            }
        ]
    )
    artifact = method.fit(train, ctx)

    k = F.col("o_orderkey")
    text = F.concat_ws(
        ", ",
        F.when(k % 2 == 0, F.lit("human rights")),
        F.when(k % 3 == 0, F.lit("rule of law")),
        F.when(k % 5 == 0, F.lit("the ruled of law")),
        F.when(k % 7 == 0, F.lit("jkpq vxzb jjkk")),
    )
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1500)
        .select(
            k.cast("string").alias("entity_name"),
            F.when(text == "", F.lit("jkpq vxzb")).otherwise(text).alias("source_text"),
        )
    )
    suggestions = ExtractorBase().get_suggestions_spark(pred_rows, method, ctx, artifact)
    return suggestions.select(
        F.col("entity_name").cast("long").alias("orderkey"),
        F.array_join(F.transform(F.col("values"), lambda v: v["id"]), ",").alias(
            "value_ids"
        ),
    ).orderBy("orderkey")


_FT_MARKERS = [
    ["market", "trade", "fiscal", "budget", "tariff", "inflation"],
    ["climate", "forest", "emission", "wildlife", "river", "pollution"],
    ["border", "defense", "patrol", "treaty", "weapon", "conflict"],
]


def _ft_sentence(c: int, j: int) -> str:
    w = _FT_MARKERS[c]
    return (
        f"the council discussed {w[j]} and {w[(j + 1) % 6]} policy"
        f" this {w[(j + 2) % 6]} session"
    )


def q_fasttext_classifier(spark, sf_dir):
    """M7 multi-label classifier on the driver gate
    (methods/fasttext_like.py TextFastTextMethod — the from-scratch
    numpy re-implementation of the reference's fastText slot,
    TextFastTextMethod.py:54-97: bag of words+bigrams -> averaged
    learned embeddings -> one-vs-all sigmoid; previously gated by the
    rightdocs-fixture pytest only). Fit runs driver-side on 18
    perfectly separable sentences (3 classes x 6 marker-word
    rotations, zero marker overlap across classes); the kernel is
    bit-deterministic (seeded LCG init, fixed full-batch GD schedule,
    float32 artifact round-trip), so the fitted model classifies each
    training sentence as its own class — empirically pinned before the
    entry was written. Predict runs DISTRIBUTED through the real
    mapInPandas suggestion path over rows that embed one of the 18
    sentences VERBATIM chosen by o_orderkey % 18, so the expected label
    id is the construction formula (k%18)//6 + 1 — which is what the
    oracle evaluates, classifier-independently."""
    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
    )
    from trainable_entity_extractor_spark.extractors.base import ExtractorBase
    from trainable_entity_extractor_spark.methods.fasttext_like import (
        TextFastTextMethod,
    )

    options = [Option("1", "economy"), Option("2", "environment"), Option("3", "security")]
    ctx = ExtractionContext(
        ExtractionIdentifier("fasttext_entry"), options=options, multi_value=False
    )
    train = pd.DataFrame(
        [
            {
                "sample_id": f"{c}-{j}",
                "source_text": _ft_sentence(c, j),
                "label_text": "",
                "values": [{"id": str(c + 1), "label": options[c].label}],
                "language_iso": "en",
                "segments": None,
            }
            for c in range(3)
            for j in range(6)
        ]
    )
    method = TextFastTextMethod()
    artifact = method.fit(train, ctx)

    sentences = F.array(
        *[F.lit(_ft_sentence(i // 6, i % 6)) for i in range(18)]
    )
    k = F.col("o_orderkey")
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 2000)
        .select(
            k.cast("string").alias("entity_name"),
            F.element_at(sentences, (k % 18 + 1).cast("int")).alias("source_text"),
        )
    )
    suggestions = ExtractorBase().get_suggestions_spark(pred_rows, method, ctx, artifact)
    return suggestions.select(
        F.col("entity_name").cast("long").alias("orderkey"),
        F.element_at(F.transform(F.col("values"), lambda v: v["id"]), 1).alias(
            "label_id"
        ),
    ).orderBy("orderkey")


def q_html_extract(spark, sf_dir):
    """S1 document scan on the driver gate (sources/segmentation.py
    py_extract_text / extract_text_udf + pages_to_segments — the
    html->text extraction whose BYTE-IDENTICAL-per-url output is the
    north-rule invariant, plus the native posexplode segment source;
    previously exercised only inside entry()'s rows-only smoke and
    pytest). HTML pages are CONSTRUCTED natively from orders columns:
    the full variant exercises script/style removal, block-element
    capture in document order (title, h1, p, li), inline-tag
    stripping (<b>), entity unescape (&amp;), and whitespace collapse
    (a doubled space); the k%7==0 variant has no block elements and
    exercises the whole-document fallback. Because every block's text
    is a deterministic function of the row's columns, the oracle
    rebuilds the exact expected byte string (and the segment count the
    posexplode source derives from it) straight from the columns —
    extractor-independently."""
    from trainable_entity_extractor_spark.sources.segmentation import (
        extract_pages_text,
        pages_to_segments,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500)
    k = F.col("o_orderkey")
    full = F.concat(
        F.lit("<html><head><title>Order "),
        k.cast("string"),
        F.lit("</title><style>p {color: red}</style></head><body>"),
        F.lit("<script>var a = 1;</script>"),
        F.lit("<h1>Status:  "),
        F.col("o_orderstatus"),
        F.lit("</h1><p>Priority &amp; "),
        F.col("o_orderpriority"),
        F.lit(" for customer <b>"),
        F.col("o_custkey").cast("string"),
        F.lit("</b></p>"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("<li>lines total "), (k % 7).cast("string"), F.lit("</li>")),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    bare = F.concat(F.lit("<div>plain summary "), k.cast("string"), F.lit("</div>"))
    pages = o.select(
        k.cast("string").alias("url"),
        F.encode(F.when(k % 7 == 0, bare).otherwise(full), "UTF-8").alias("html"),
    )
    ext = extract_pages_text(pages)
    nseg = (
        pages_to_segments(ext, text_col="extracted_text")
        .groupBy("url")
        .agg(F.count("*").cast("long").alias("n_segments"))
    )
    return (
        ext.join(nseg, "url")
        .select(
            F.col("url").cast("long").alias("orderkey"),
            F.col("extracted_text"),
            F.col("n_segments"),
        )
        .orderBy("orderkey")
    )


_POPPLER_XML_TEMPLATE = """<pdf2xml>
<page number="1" position="absolute" top="0" left="0" height="1262" width="892">
<fontspec id="0" size="12" family="Times" color="#000000"/>
<fontspec id="1" size="8" family="Times" color="#000000"/>
<text top="100" left="100" width="30" height="12" font="0">Hel</text>
<text top="100" left="130" width="20" height="12" font="0">lo</text>
<text top="100" left="200" width="50" height="12" font="0">world</text>
<text top="100" left="300" width="6" height="12" font="1">7</text>
<text top="116" left="100" width="50" height="12" font="0">order</text>
<text top="116" left="160" width="40" height="12" font="0">%s</text>
<text top="200" left="100" width="30" height="12" font="0">ref</text>
<text top="200" left="140" width="30" height="12" font="0">%s</text>
</page>
<page number="2" position="absolute" top="0" left="0" height="1262" width="892">
<fontspec id="0" size="12" family="Times" color="#000000"/>
<text top="100" left="100" width="200" height="12" font="0">SHOULD NOT APPEAR</text>
</page>
<page number="3" position="absolute" top="0" left="0" height="1262" width="892">
<fontspec id="0" size="12" family="Times" color="#000000"/>
<text top="100" left="100" width="40" height="12" font="0">page</text>
<text top="100" left="150" width="40" height="12" font="0">three</text>
<text top="100" left="200" width="40" height="12" font="0">final</text>
<text top="100" left="250" width="20" height="12" font="0">%s</text>
</page>
</pdf2xml>"""


def q_poppler_parse(spark, sf_dir):
    """S1/S2/F2/F3 poppler pdf2xml scan on the driver gate
    (sources/poppler_xml.py xml_to_segments — page-filter surgery,
    token parse, same-word merge, superscript removal, line/paragraph
    assembly; reference PdfData.py:77-175 +
    FilterValidSegmentsPagesUseCase.py:120-140; previously pytest-only).
    Each orderkey renders a 3-page pdf2xml document built natively from
    its columns; the real kernel then runs per document in an
    Arrow-batched mapInPandas with keep_pages=[1,3]. Every behavior is
    decided by the construction: page 2 is dropped by the S2 filter
    (its text never appears), 'Hel'+'lo' merge (0px gap, full vertical
    overlap: F3), the size-8 numeric '7' is a superscript in a
    size-spread>=1.5 paragraph and is dropped (F2), and the line/
    paragraph geometry (4px line gap within the 1.6x-median threshold,
    72px break) yields exactly three segments whose texts the oracle
    rebuilds from the orderkey formulas, parser-independently."""
    from trainable_entity_extractor_spark.sources.poppler_xml import xml_to_segments

    k = F.col("o_orderkey")
    rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1200)
        .select(
            k.alias("orderkey"),
            F.format_string(
                _POPPLER_XML_TEMPLATE,
                k.cast("string"),
                (k % 50 + 10).cast("string"),
                (k % 7).cast("string"),
            ).alias("xml"),
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for key, x in zip(pdf["orderkey"], pdf["xml"]):
                for s in xml_to_segments(x.encode("utf-8"), keep_pages=[1, 3]):
                    recs.append(
                        {
                            "orderkey": key,
                            "seg_idx": s["seg_idx"],
                            "page": s["page"],
                            "text": s["text"],
                        }
                    )
            yield pd.DataFrame(recs, columns=["orderkey", "seg_idx", "page", "text"])

    return rows.mapInPandas(
        run, "orderkey long, seg_idx int, page int, text string"
    ).orderBy("orderkey", "seg_idx")


_TFIDF_MARKERS = [
    ["stadium", "match", "league", "goal", "referee", "tournament"],
    ["museum", "opera", "gallery", "sculpture", "festival", "theatre"],
    ["clinic", "vaccine", "nutrition", "therapy", "hospital", "diagnosis"],
]


def _tfidf_sentence(c: int, j: int) -> str:
    w = _TFIDF_MARKERS[c]
    return (
        f"the weekly bulletin covered {w[j]} and {w[(j + 1) % 6]} news"
        f" about {w[(j + 2) % 6]} updates"
    )


def q_tfidf_classifier(spark, sf_dir):
    """M7's second trainable family on the driver gate
    (methods/tfidf.py TextTfIdf — from-scratch numpy TF-IDF + one-vs-
    rest logistic regression at the reference's TextTfIdf.py:51-78
    slot; previously gated by pytest only). Same harness shape as
    `fasttext_classifier`: driver-fit on 18 perfectly separable
    sentences (3 classes x 6 marker rotations, zero cross-class token
    overlap, deterministic fixed-init fixed-epoch GD), DISTRIBUTED
    predict through the real mapInPandas suggestion path over verbatim
    training sentences chosen by (o_orderkey%18)//6 and o_orderkey%6,
    oracle = the class formula, classifier-independently."""
    from trainable_entity_extractor_spark.domain import (
        ExtractionContext,
        ExtractionIdentifier,
        Option,
    )
    from trainable_entity_extractor_spark.extractors.base import ExtractorBase
    from trainable_entity_extractor_spark.methods.tfidf import TextTfIdf

    options = [Option("1", "sports"), Option("2", "culture"), Option("3", "health")]
    ctx = ExtractionContext(
        ExtractionIdentifier("tfidf_entry"), options=options, multi_value=False
    )
    train = pd.DataFrame(
        [
            {
                "sample_id": f"{c}-{j}",
                "source_text": _tfidf_sentence(c, j),
                "label_text": "",
                "values": [{"id": str(c + 1), "label": options[c].label}],
                "language_iso": "en",
                "segments": None,
            }
            for c in range(3)
            for j in range(6)
        ]
    )
    method = TextTfIdf()
    artifact = method.fit(train, ctx)

    k = F.col("o_orderkey")
    sentences = F.array(*[F.lit(_tfidf_sentence(i // 6, i % 6)) for i in range(18)])
    pred_rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 2000)
        .select(
            k.cast("string").alias("entity_name"),
            F.element_at(
                sentences, (((k % 18) / 6).cast("int") * 6 + (k % 6).cast("int") + 1)
            ).alias("source_text"),
        )
    )
    suggestions = ExtractorBase().get_suggestions_spark(pred_rows, method, ctx, artifact)
    return suggestions.select(
        F.col("entity_name").cast("long").alias("orderkey"),
        F.element_at(F.transform(F.col("values"), lambda v: v["id"]), 1).alias(
            "label_id"
        ),
    ).orderBy("orderkey")


def q_audio_features(spark, sf_dir):
    """Multimodal audio leg with a REAL from-scratch codec
    (operators/audio.py — RIFF/WAVE container + PCM samples, public spec,
    stdlib-`wave`-parity-tested both ways; retires the audio half of the
    multimodal deterministic-fake gate the way round 5's jpeg.py retired
    the JPEG half). Each orderkey synthesizes a square-wave WAV natively
    from its columns (period k%7+2, amplitude (k%50+10)*256, length
    4000+(k%5)*800 at 8 kHz) inside a narrow mapInPandas, then the real
    `audio_features` operator decodes it distributed (second narrow map,
    no shuffle). Square waves have closed-form stats — peak=rms=A,
    zero_crossings=(n-1)//period — so the oracle computes every feature
    from the construction formulas, codec-independently."""
    from trainable_entity_extractor_spark.operators.audio import (
        audio_features,
        square_wave,
        wav_encode,
    )

    k = F.col("o_orderkey")
    rows = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1500)
        .select(
            k.alias("orderkey"),
            (k % 7 + 2).alias("period"),
            ((k % 50 + 10) * 256).alias("amp"),
            (F.lit(4000) + (k % 5) * 800).alias("n"),
        )
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["orderkey"].astype(str),
                    "blob": [
                        wav_encode(square_wave(int(n), int(p), int(a)), 8000)
                        for n, p, a in zip(pdf["n"], pdf["period"], pdf["amp"])
                    ],
                }
            )

    assets = rows.mapInPandas(synth, "asset_id string, blob binary")
    return (
        audio_features(assets)
        .select(
            F.col("asset_id").cast("long").alias("orderkey"),
            "format",
            "sample_rate",
            "channels",
            "n_frames",
            "peak",
            "rms",
            "zero_crossings",
        )
        .orderBy("orderkey")
    )


def q_video_frames(spark, sf_dir):
    """Multimodal video leg with a REAL from-scratch container + codec
    (operators/video.py — MJPEG-in-AVI: RIFF 'AVI ' form with hdrl/movi
    lists and idx1 index, frames decoded by the repo's own ITU-T T.81
    baseline JPEG codec; retires the video half of the multimodal
    deterministic-fake gate the way jpeg.py and audio.py retired the
    image/audio halves). Each orderkey synthesizes a 3-frame AVI of
    uniform 16x24 grayscale frames (luma (k*7+f*31)%200+20) in a narrow
    mapInPandas, then the real `video_frame_stats` operator decodes it
    distributed (second narrow map, no shuffle) and emits one row per
    frame. Uniform 8x8-aligned frames survive JPEG quantization exactly,
    so every frame's mean luma is a closed-form function of (orderkey,
    frame_idx) the oracle computes from the formulas, codec- and
    container-independently."""
    from trainable_entity_extractor_spark.operators.video import (
        avi_encode,
        video_frame_stats,
    )
    import numpy as np

    rows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1200)
        .select(F.col("o_orderkey").alias("orderkey"))
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for k in pdf["orderkey"]:
                frames = [
                    np.full((16, 24), (int(k) * 7 + f * 31) % 200 + 20, np.uint8)
                    for f in range(3)
                ]
                blobs.append(avi_encode(frames, fps=10))
            yield pd.DataFrame(
                {"asset_id": pdf["orderkey"].astype(str), "blob": blobs}
            )

    assets = rows.mapInPandas(synth, "asset_id string, blob binary")
    return (
        video_frame_stats(assets)
        .select(
            F.col("asset_id").cast("long").alias("orderkey"),
            "frame_idx",
            "format",
            "height",
            "width",
            "mean_luma",
        )
        .orderBy("orderkey", "frame_idx")
    )


def q_page_range_prune(spark, sf_dir):
    """A10 valid-page-range inference on the driver gate
    (operators/page_ranges.py — reference
    FilterValidSegmentsPagesUseCase.py:20-151; previously pytest-only).
    Three PageRangeModels are fit driver-side on fixed training docs
    that force each branch — front-anchored (min start-gap <= min
    end-gap), back-anchored, and the no-labels first-4+last-4 fallback
    — then each prunes the SAME natively constructed segments table
    (one segment per page, total pages P = k%13+6) through the real
    window+filter operator. The kept-page stats per document follow
    from the training gaps alone: front keeps pages 1..5, back keeps
    the last 4, fallback keeps <=4 or >=P-3 — which is what the oracle
    evaluates, operator-independently."""
    from trainable_entity_extractor_spark.operators.page_ranges import (
        PageRangeModel,
        filter_segments_to_valid_pages,
    )

    front = PageRangeModel().fit(
        [
            {"total_pages": 10, "label_pages": [2, 3]},
            {"total_pages": 12, "label_pages": [3]},
        ]
    )
    back = PageRangeModel().fit(
        [
            {"total_pages": 10, "label_pages": [9, 10]},
            {"total_pages": 12, "label_pages": [11]},
        ]
    )
    unbounded = PageRangeModel().fit([{"total_pages": 10, "label_pages": []}])

    k = F.col("o_orderkey")
    segments = (
        _t(spark, sf_dir, "orders")
        .filter(k < 1500)
        .select(
            k.cast("string").alias("url"),
            F.explode(F.sequence(F.lit(1), (k % 13 + 6).cast("int"))).alias("page"),
        )
    )
    parts = []
    for mode, model in (("front", front), ("back", back), ("fallback", unbounded)):
        kept = filter_segments_to_valid_pages(segments, model)
        parts.append(
            kept.groupBy("url").agg(
                F.lit(mode).alias("mode"),
                F.count("*").cast("long").alias("n_pages"),
                F.min("page").cast("int").alias("min_page"),
                F.max("page").cast("int").alias("max_page"),
            )
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.select(
        F.col("url").cast("long").alias("orderkey"), "mode", "n_pages", "min_page", "max_page"
    ).orderBy("orderkey", "mode")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "orders_without_lineitems": q_orders_without_lineitems,
        "parts_in_lineitem": q_parts_in_lineitem,
        "running_quantity": q_running_quantity,
        "order_gaps": q_order_gaps,
        "first_order_per_customer": q_first_order_per_customer,
        "event_type_mode": q_event_type_mode,
        "unordered_parts": q_unordered_parts,
        "price_percentiles": q_price_percentiles,
        "hourly_event_rollup": q_hourly_event_rollup,
        "sessionize": q_sessionize,
        "region_revenue": q_region_revenue,
        "top_words": q_top_words,
        "exact_dedup": q_exact_dedup,
        "minhash_buckets": q_minhash_buckets,
        "adjacent_duplicates": q_adjacent_duplicates,
        "quality_stats": q_quality_stats,
        "token_counts": q_token_counts,
        "fingerprint_distinct": q_fingerprint_distinct,
        "ngram_jaccard_consecutive": q_ngram_jaccard_consecutive,
        "cosine_topk": q_cosine_topk,
        "label_centroid_sim": q_label_centroid_sim,
        "triples_phrases": q_triples_phrases,
        "minhash_lsh_linking": q_minhash_lsh_linking,
        "connected_components": q_connected_components,
        "char_budget_prefix": q_char_budget_prefix,
        "simhash_buckets": q_simhash_buckets,
        "char_budget_both_ends": q_char_budget_both_ends,
        "phash_dedup": q_phash_dedup,
        "jpeg_phash_dedup": q_jpeg_phash_dedup,
        "embedding_near_dup": q_embedding_near_dup,
        "spatial_assign": q_spatial_assign,
        "repeated_headers": q_repeated_headers,
        "merge_boxes": q_merge_boxes,
        "frame_sample": q_frame_sample,
        "reading_order": q_reading_order,
        "title_carry": q_title_carry,
        "neighbor_smoothing": q_neighbor_smoothing,
        "neighbor_features": q_neighbor_features,
        "layout_modes": q_layout_modes,
        "streaming_rollup": q_streaming_rollup,
        "streaming_distinct_users": q_streaming_distinct_users,
        "date_extraction": q_date_extraction,
        "country_extraction": q_country_extraction,
        "ner_first_last": q_ner_first_last,
        "truecase": q_truecase,
        "regex_extraction": q_regex_extraction,
        "sanitize_language": q_sanitize_language,
        "nw_alignment": q_nw_alignment,
        "lineage_replay": q_lineage_replay,
        "fuzzy_triples_88": q_fuzzy_triples_88,
        "segment_selector": q_segment_selector,
        "tournament_e2e": q_tournament_e2e,
        "lang_id": q_lang_id,
        "salted_distinct_parts": q_salted_distinct_parts,
        "ivf_topk": q_ivf_topk,
        "cross_page_fix": q_cross_page_fix,
        "sentence_resegment": q_sentence_resegment,
        "fuzzy_commas": q_fuzzy_commas,
        "fasttext_classifier": q_fasttext_classifier,
        "html_extract": q_html_extract,
        "page_range_prune": q_page_range_prune,
        "tfidf_classifier": q_tfidf_classifier,
        "poppler_parse": q_poppler_parse,
        "audio_features": q_audio_features,
        "streaming_running_totals": q_streaming_running_totals,
        "fuzzy_first_last": q_fuzzy_first_last,
        "regex_subtraction": q_regex_subtraction,
        "context_markup": q_context_markup,
        "identity_methods": q_identity_methods,
        "orchestration_hygiene": q_orchestration_hygiene,
        "date_pick": q_date_pick,
        "text_fuzzy_first_last": q_text_fuzzy_first_last,
        "similarity_ratios": q_similarity_ratios,
        "video_frames": q_video_frames,
        "empty_placeholder": q_empty_placeholder,
        "gliner_date": q_gliner_date,
        "suggestion_format": q_suggestion_format,
        "scoring_metrics": q_scoring_metrics,
        "llm_codegen": q_llm_codegen,
        "llm_codegen_multi": q_llm_codegen_multi,
    }


# ---------------------------------------------------------------------------
# oracle SQL — DuckDB side (same column names, same rounding)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from trainable_entity_extractor_spark.operators.multimodal import (
        synth_jpeg_rows,
        synth_png_rows,
    )

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 10
        """,
        "orders_without_lineitems": """
            SELECT o_orderkey FROM orders
            WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
            ORDER BY o_orderkey
        """,
        "parts_in_lineitem": """
            SELECT p_brand, count(*) AS n_parts
            FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
            GROUP BY p_brand ORDER BY p_brand
        """,
        "running_quantity": """
            SELECT l_orderkey, l_linenumber,
                   round(sum(l_quantity) OVER (PARTITION BY l_orderkey
                         ORDER BY l_linenumber), 2) AS running_qty
            FROM lineitem
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber
        """,
        "order_gaps": """
            SELECT o_custkey, o_orderkey,
                   datediff('day',
                            lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey),
                            o_orderdate) AS days_since_prev
            FROM orders
            ORDER BY o_custkey, o_orderkey
        """,
        "first_order_per_customer": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders) t
            WHERE rn = 1 ORDER BY o_custkey
        """,
        "event_type_mode": """
            SELECT user_id, event_type AS mode_event, cnt FROM (
                SELECT user_id, event_type, count(*) AS cnt,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY count(*) DESC, event_type) AS rn
                FROM events GROUP BY user_id, event_type) t
            WHERE rn = 1 ORDER BY user_id
        """,
        "unordered_parts": """
            SELECT p_partkey FROM part
            EXCEPT ALL
            SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
            ORDER BY p_partkey
        """,
        "price_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
                   round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
                   round(avg(o_totalprice), 2) AS avg_price
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "hourly_event_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1
                            WHEN lag(ts) OVER w IS NULL THEN 1
                            ELSE 0 END AS new_sess,
                       ts
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id,
                       sum(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS session_id
                FROM flagged)
            SELECT user_id, max(session_id)::BIGINT AS n_sessions, count(*) AS n_events
            FROM sess GROUP BY user_id ORDER BY user_id
        """,
        "region_revenue": """
            SELECT r_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "top_words": """
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
                FROM documents) t
            WHERE word <> ''
            GROUP BY word ORDER BY cnt DESC, word LIMIT 30
        """,
        "exact_dedup": """
            SELECT fp, count(*) AS dup_count, min(doc_id) AS keep_id FROM (
                SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(
                           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       w -> w <> ''))), ' ')) AS fp
                FROM documents) t
            GROUP BY fp HAVING count(*) > 1 ORDER BY fp
        """,
        "minhash_buckets": """
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                          w -> w <> '')) AS w
                FROM documents
            ), sigs AS (
                SELECT doc_id,
                       min(md5('0#' || w)) AS mh0, min(md5('1#' || w)) AS mh1,
                       min(md5('2#' || w)) AS mh2, min(md5('3#' || w)) AS mh3
                FROM words GROUP BY doc_id)
            SELECT mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS bucket,
                   count(*) AS bucket_size, min(doc_id) AS keep_id
            FROM sigs GROUP BY 1 HAVING count(*) > 1 ORDER BY bucket
        """,
        "adjacent_duplicates": """
            -- intentionally the ORIGINAL lead() formulation, NOT the
            -- doc_id+1 join the Spark side uses: the join assumes dense
            -- consecutive doc_ids (asserted in q_adjacent_duplicates's
            -- docstring and true of the documents table), and keeping the
            -- window form here means the gate checks that equivalence
            -- instead of mirroring the implementation.
            WITH nxt AS (
                SELECT doc_id, md5(text) AS fp,
                       lead(md5(text)) OVER (ORDER BY doc_id) AS fp_next
                FROM documents)
            SELECT doc_id FROM nxt
            WHERE fp = fp_next ORDER BY doc_id
        """,
        "quality_stats": """
            WITH q AS (
                SELECT doc_id, lang,
                       len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       w -> w <> '')) AS n_words,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / greatest(length(text), 1) AS alpha_ratio,
                       len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                       w -> w IN ('the','and','of','to','in')))
                           * 1.0 / greatest(len(list_filter(
                                 regexp_split_to_array(lower(text), '\\s+'),
                                 w -> w <> '')), 1) AS stopword_ratio
                FROM documents)
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_words), 2) AS avg_words,
                   round(avg(round(alpha_ratio, 4)), 4) AS avg_alpha_ratio,
                   round(avg(round(stopword_ratio, 4)), 4) AS avg_stopword_ratio
            FROM q GROUP BY lang ORDER BY lang
        """,
        "token_counts": """
            SELECT source,
                   sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                       w -> w <> '')))::BIGINT AS total_tokens,
                   count(*) AS n_docs
            FROM documents GROUP BY source ORDER BY source
        """,
        "fingerprint_distinct": """
            SELECT source,
                   count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                       AS n_distinct
            FROM documents GROUP BY source ORDER BY source
        """,
        "ngram_jaccard_consecutive": """
            -- Spark computes this over xxhash64-hashed shingles (8-byte
            -- shuffle payload); Jaccard is hash-invariant, so the oracle
            -- uses the raw shingle strings and values match.
            WITH sh AS (
                SELECT doc_id,
                       list_distinct([array_to_string(words[i:i+2], '_')
                           for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         w -> w <> '') AS words
                      FROM documents) t)
            SELECT a.doc_id AS doc_id,
                   round(len(list_intersect(a.s, b.s)) * 1.0 /
                         len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
            WHERE len(list_intersect(a.s, b.s)) > 0
            ORDER BY doc_id
        """,
        "char_budget_prefix": """
            SELECT lang, count(*) AS n_docs, max(cum_chars)::BIGINT AS chars_used FROM (
                SELECT lang, sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS cum_chars
                FROM documents) t
            WHERE cum_chars <= 5000
            GROUP BY lang ORDER BY lang
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
                         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                          sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cosine
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "label_centroid_sim": _label_centroid_sql(_embedding_dim()),
        "triples_phrases": """
            WITH opts(obj_id, label) AS (VALUES ('1','table hash'),
                 ('2','customer join'), ('3','part filter'),
                 ('4','merge group'))
            SELECT doc_id, obj_id FROM (
                SELECT d.doc_id, o.obj_id
                FROM documents d JOIN opts o
                  ON contains(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))), o.label))
            GROUP BY doc_id, obj_id
            ORDER BY doc_id, obj_id
        """,
        "minhash_lsh_linking": """
            WITH words AS (
                SELECT doc_id AS mid,
                       unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                          w -> w <> '')) AS w
                FROM documents
            ), sigs AS (
                SELECT mid,
                       min(md5('0#' || w)) AS mh0, min(md5('1#' || w)) AS mh1,
                       min(md5('2#' || w)) AS mh2, min(md5('3#' || w)) AS mh3,
                       min(md5('4#' || w)) AS mh4, min(md5('5#' || w)) AS mh5,
                       min(md5('6#' || w)) AS mh6, min(md5('7#' || w)) AS mh7
                FROM words GROUP BY mid
            ), keys AS (
                SELECT mid, 0 AS band, mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS key FROM sigs
                UNION ALL
                SELECT mid, 1, mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sigs
            ), blocks AS (
                SELECT band, key FROM keys GROUP BY band, key
                HAVING count(*) > 1 AND count(*) <= 64
            ), pairs AS (
                SELECT DISTINCT k1.mid AS a, k2.mid AS b
                FROM blocks
                JOIN keys k1 ON k1.band = blocks.band AND k1.key = blocks.key
                JOIN keys k2 ON k2.band = blocks.band AND k2.key = blocks.key
                WHERE k1.mid < k2.mid
            )
            SELECT a, b,
                   round(((sa.mh0 = sb.mh0)::INT + (sa.mh1 = sb.mh1)::INT +
                          (sa.mh2 = sb.mh2)::INT + (sa.mh3 = sb.mh3)::INT +
                          (sa.mh4 = sb.mh4)::INT + (sa.mh5 = sb.mh5)::INT +
                          (sa.mh6 = sb.mh6)::INT + (sa.mh7 = sb.mh7)::INT) / 8.0,
                         4) AS agreement
            FROM pairs JOIN sigs sa ON sa.mid = a JOIN sigs sb ON sb.mid = b
            WHERE ((sa.mh0 = sb.mh0)::INT + (sa.mh1 = sb.mh1)::INT +
                   (sa.mh2 = sb.mh2)::INT + (sa.mh3 = sb.mh3)::INT +
                   (sa.mh4 = sb.mh4)::INT + (sa.mh5 = sb.mh5)::INT +
                   (sa.mh6 = sb.mh6)::INT + (sa.mh7 = sb.mh7)::INT) / 8.0 >= 0.75
            ORDER BY a, b
        """,
        "simhash_buckets": """
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                          w -> w <> '')) AS w
                FROM documents
            ), votes AS (
                SELECT doc_id, b.b AS bit,
                       sum((((('0x' || substring(md5(w), b.b // 4 + 1, 1))::INT
                              >> (b.b % 4)) & 1) * 2 - 1)) AS vote
                FROM words, (SELECT unnest(range(16)) AS b) b
                GROUP BY doc_id, b.b
            ), sig AS (
                SELECT doc_id,
                       sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
                           AS simhash
                FROM votes GROUP BY doc_id)
            SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
            FROM sig GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash
        """,
        "char_budget_both_ends": """
            WITH f1 AS (
                SELECT lang, doc_id, n_chars,
                       sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS cum_fwd
                FROM documents
            ), f2 AS (
                SELECT *, (cum_fwd <= 2500) AS front FROM f1
            ), f3 AS (
                SELECT *, sum(CASE WHEN front THEN 0 ELSE n_chars END)
                              OVER (PARTITION BY lang ORDER BY doc_id DESC) AS cum_rev
                FROM f2
            ), f4 AS (
                SELECT *, (NOT front AND cum_rev <= 2500) AS back FROM f3)
            SELECT lang, sum(front::INT)::BIGINT AS n_front,
                   sum(back::INT)::BIGINT AS n_back,
                   sum(n_chars)::BIGINT AS chars_used
            FROM f4 WHERE front OR back GROUP BY lang ORDER BY lang
        """,
        "spatial_assign": """
            WITH tok AS (
                SELECT l_orderkey, l_linenumber,
                       (l_partkey % 50) * 10.0 AS tl,
                       (l_suppkey % 40) * 10.0 AS tt,
                       12.0 AS tw, 8.0 AS th
                FROM lineitem WHERE l_orderkey < 2000
            ), grid AS (
                SELECT r AS region_id,
                       (r % 5) * 100.0 AS gl, (r // 5) * 100.0 AS gt,
                       100.0 AS gw, 100.0 AS gh
                FROM (SELECT unnest(range(20)) AS r)
            ), assigned AS (
                -- group by the FULL token identity (all attributes), like
                -- the Spark side's groupBy over every token column:
                -- (l_orderkey, l_linenumber) is NOT unique in the
                -- synthetic lineitem
                SELECT t.l_orderkey, t.l_linenumber, t.tl, t.tt,
                       min(g.region_id) AS region_id
                FROM tok t LEFT JOIN grid g
                  ON 100.0
                     * greatest(least(t.tl + t.tw, g.gl + g.gw) - greatest(t.tl, g.gl), 0)
                     * greatest(least(t.tt + t.th, g.gt + g.gh) - greatest(t.tt, g.gt), 0)
                     / greatest(t.tw * t.th, 1e-9) > 50.0
                GROUP BY 1, 2, 3, 4
            )
            SELECT coalesce(region_id, -1) AS region_id,
                   count(*) AS n_tokens
            FROM assigned GROUP BY 1 ORDER BY region_id
        """,
        "embedding_near_dup": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings
            ), e AS (
                SELECT vec_id, v,
                       ((v[1] > v[33])::INT
                      + ((v[2] > v[34])::INT * 2)
                      + ((v[3] > v[35])::INT * 4)
                      + ((v[4] > v[36])::INT * 8)) AS bucket,
                       sqrt(list_dot_product(v, v)) AS nrm
                FROM base
            )
            SELECT a, b, round(cos_ab, 4) AS cosine FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                       list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos_ab
                FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
            WHERE cos_ab >= 0.4
            ORDER BY a, b
        """,
        "repeated_headers": """
            WITH seg AS (
                SELECT 'd' || (o_custkey % 20)::VARCHAR AS url,
                       ((o_orderkey % 7) + 1)::INT AS page,
                       ((o_orderkey % 10) * 80.0) AS top,
                       12.0 AS height,
                       CASE WHEN o_orderkey % 10 = 0 THEN 'CONFIDENTIAL HEADER'
                            ELSE 'body ' || o_orderkey::VARCHAR END AS text
                FROM orders
            ), pages AS (
                SELECT url, max(page) AS n_pages FROM seg GROUP BY url
            ), edge AS (
                SELECT * FROM seg WHERE top < 800*0.2 OR top + height > 800*0.8
            ), hdr AS (
                -- reference parity: threshold counts cluster MEMBERS
                -- (len(cluster) >= min_pages), not distinct pages
                SELECT e.url, e.text
                FROM edge e JOIN pages p ON e.url = p.url
                GROUP BY e.url, e.text, p.n_pages
                HAVING count(*) >= greatest(ceil(0.2 * p.n_pages), 3)
            ), cleaned AS (
                SELECT s.url FROM seg s LEFT JOIN hdr h
                  ON s.url = h.url AND s.text = h.text
                 AND (s.top < 800*0.2 OR s.top + s.height > 800*0.8)
                WHERE h.url IS NULL
            )
            SELECT url, count(*)::BIGINT AS n_left
            FROM cleaned GROUP BY url ORDER BY url
        """,
        "merge_boxes": """
            WITH tok AS (
                SELECT (l_orderkey % 10)::INT AS url,
                       ((l_linenumber % 3) + 1)::INT AS page,
                       ((l_partkey % 50) * 10.0) AS l,
                       ((l_suppkey % 40) * 10.0) AS t,
                       12.0 AS w, 8.0 AS h
                FROM lineitem WHERE l_orderkey < 1000
            )
            SELECT url, page,
                   min(l) AS "left", min(t) AS top,
                   max(l + w) - min(l) AS width,
                   max(t + h) - min(t) AS height
            FROM tok GROUP BY url, page ORDER BY url, page
        """,
        "frame_sample": """
            WITH a AS (
                SELECT 'doc/' || doc_id::VARCHAR AS asset_id, text AS t,
                       least(8, greatest(1, length(text) // 64)) AS n
                FROM documents WHERE doc_id < 50
            ), exploded AS (
                SELECT asset_id, t, unnest(range(n)) AS i FROM a
            )
            SELECT asset_id, i::INT AS frame_idx,
                   hex(encode(substring(t, (i*64 + 1)::INT, 64))) AS frame_hex
            FROM exploded ORDER BY asset_id, frame_idx
        """,
        "reading_order": """
            WITH seg AS (
                SELECT (l_orderkey % 10)::INT AS url,
                       ((l_linenumber % 2) + 1)::INT AS page,
                       ((l_partkey % 30) * 10.0) AS top,
                       (l_orderkey * 10 + l_linenumber)::DOUBLE AS "left"
                FROM lineitem WHERE l_orderkey < 500
            )
            SELECT url, page, top, "left",
                   (row_number() OVER (PARTITION BY url ORDER BY page, top, "left") - 1)::INT AS seg_idx
            FROM seg ORDER BY url, seg_idx
        """,
        "title_carry": """
            WITH seg AS (
                SELECT (l_orderkey % 5)::INT AS url,
                       (l_orderkey * 10 + l_linenumber) AS seg_idx,
                       CASE WHEN l_partkey % 17 = 0 THEN 'TITLE' ELSE 'TEXT' END AS seg_type,
                       'seg ' || l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS text
                FROM lineitem WHERE l_orderkey < 300
            )
            SELECT url, seg_idx, seg_type,
                   last_value(CASE WHEN seg_type = 'TITLE' THEN text END IGNORE NULLS)
                       OVER (PARTITION BY url ORDER BY seg_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_title_text
            FROM seg ORDER BY url, seg_idx
        """,
        "neighbor_smoothing": """
            WITH scored AS (
                SELECT (l_orderkey % 10)::INT AS url,
                       (l_orderkey * 10 + l_linenumber) AS seg_idx,
                       ((l_partkey % 100) / 100.0) AS score
                FROM lineitem WHERE l_orderkey < 400
            )
            SELECT url, seg_idx,
                   max(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY url ORDER BY seg_idx
                             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1
                       AS selected
            FROM scored ORDER BY url, seg_idx
        """,
        "neighbor_features": """
            WITH seg AS (
                SELECT (l_orderkey % 8)::INT AS url,
                       (l_orderkey * 10 + l_linenumber) AS seg_idx,
                       'seg ' || l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS text,
                       ((l_partkey % 30) * 10.0)::DOUBLE AS "left",
                       (l_linenumber * 20.0)::DOUBLE AS top,
                       CASE WHEN l_suppkey % 11 = 0 THEN 'TITLE' ELSE 'TEXT' END AS seg_type
                FROM lineitem WHERE l_orderkey < 400
            )
            SELECT url, seg_idx, text,
                   lag(text) OVER w AS prev_text,
                   lead(text) OVER w AS next_text,
                   lag("left") OVER w AS prev_left,
                   lag(seg_type) OVER w AS prev_seg_type,
                   lead(top) OVER w AS next_top,
                   lead(seg_type) OVER w AS next_seg_type
            FROM seg
            WINDOW w AS (PARTITION BY url ORDER BY seg_idx)
            ORDER BY url, seg_idx
        """,
        "layout_modes": """
            WITH seg AS (
                SELECT (l_orderkey % 5)::INT AS url,
                       (l_orderkey * 10 + l_linenumber) AS seg_idx,
                       CASE WHEN l_partkey % 3 = 0 THEN 72.0
                            ELSE 100.0 + (l_partkey % 7) * 15.0 END AS "left",
                       (l_linenumber * 20.0) AS top,
                       CASE WHEN l_suppkey % 2 = 0 THEN 12.0
                            ELSE 9.0 + (l_suppkey % 5) END AS height
                FROM lineitem WHERE l_orderkey < 2000
            ), spaced AS (
                SELECT url, "left", height,
                       top - lag(top + height)
                           OVER (PARTITION BY url ORDER BY seg_idx) AS line_space
                FROM seg
            )
            SELECT url,
                   mode("left") AS left_margin_mode,
                   mode(height) AS height_mode,
                   mode(line_space) AS line_space_mode,
                   count(*)::BIGINT AS n_segments
            FROM spaced GROUP BY url ORDER BY url
        """,
        "streaming_rollup": """
            -- floor(epoch)/bucket, NOT epoch(ts)::BIGINT: DuckDB's
            -- double->bigint cast rounds-to-nearest while Spark's
            -- F.window floors, so an event in the last 0.5s of a window
            -- would land in the next bucket under the cast form
            SELECT to_timestamp(floor(epoch(ts) / 21600)::BIGINT * 21600)::TIMESTAMP AS win_start,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2 ORDER BY win_start, event_type
        """,
        "streaming_distinct_users": """
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "date_extraction": """
            SELECT o_orderkey AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS extracted_date
            FROM orders WHERE o_orderkey < 2000 ORDER BY orderkey
        """,
        "segment_selector": """
            SELECT d::INT AS doc, (d % 6)::INT AS selected_idx
            FROM range(30, 90) t(d) ORDER BY doc, selected_idx
        """,
        "cross_page_fix": """
            WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 2000)
            SELECT * FROM (
                SELECT k AS doc_id, 0 AS out_idx, 1 AS page,
                       'sentence zero for order ' || k || ' sentence one for order ' || k || '.' AS text
                FROM o WHERE k % 3 = 0
                UNION ALL
                SELECT k, 1, 2, 'sentence two for order ' || k || '.' FROM o WHERE k % 3 = 0
                UNION ALL
                SELECT k, 0, 1, 'sentence zero for order ' || k FROM o WHERE k % 3 = 1
                UNION ALL
                SELECT k, 1, 1, 'sentence one for order ' || k || '.' FROM o WHERE k % 3 = 1
                UNION ALL
                SELECT k, 2, 2, 'sentence two for order ' || k || '.' FROM o WHERE k % 3 = 1
                UNION ALL
                SELECT k, 0, 1, 'sentence zero for order ' || k || '.' FROM o WHERE k % 3 = 2
                UNION ALL
                SELECT k, 1, 2, 'sentence one for order ' || k || '.' FROM o WHERE k % 3 = 2
                UNION ALL
                SELECT k, 2, 2, 'sentence two for order ' || k || '.' FROM o WHERE k % 3 = 2
            ) ORDER BY doc_id, out_idx
        """,
        "sentence_resegment": """
            WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 2000)
            SELECT * FROM (
                SELECT k AS doc_id, 0 AS sent_idx,
                       'alpha ' || k || ' beta' AS text FROM o WHERE k % 3 = 0
                UNION ALL
                SELECT k, 1, 'gamma ' || k || ' delta' FROM o WHERE k % 3 = 0
                UNION ALL
                SELECT k, 0, 'alpha ' || k || ' beta, gamma ' || k || ' delta'
                FROM o WHERE k % 3 = 1
                UNION ALL
                -- the kernel's across-merge joins 'one k two,' with the
                -- leading-space split piece ' three k four' -> two spaces
                SELECT k, 0, 'one ' || k || ' two,  three ' || k || ' four'
                FROM o WHERE k % 3 = 2
            ) ORDER BY doc_id, sent_idx
        """,
        "lang_id": """
            -- expected language from the construction formula (dominant
            -- pool = langs[o_orderkey % 4], 'en' fallback on marker-free
            -- noise rows), never from the kernel
            SELECT o_orderkey AS doc_id,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'en'
                        ELSE list_extract(['de', 'en', 'es', 'fr'],
                                          (o_orderkey % 4)::INT + 1)
                   END AS detected_lang
            FROM orders WHERE o_orderkey < 4000 ORDER BY doc_id
        """,
        "salted_distinct_parts": """
            SELECT l_suppkey,
                   count(DISTINCT l_partkey)::BIGINT AS n_distinct,
                   count(DISTINCT l_partkey)::BIGINT AS n_collected
            FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
        """,
        "ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
                         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                          sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cosine
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "tournament_e2e": """
            SELECT o_orderkey AS orderkey,
                   'TextFuzzyAll100' AS winner,
                   -- coalesce: DuckDB's array_to_string of an empty list
                   -- is NULL, Spark's array_join is ''
                   coalesce(array_to_string(list_filter([
                       CASE WHEN o_orderkey % 2 = 0 THEN '1' END,
                       CASE WHEN o_orderkey % 3 = 0 THEN '2' END,
                       CASE WHEN o_orderkey % 5 = 0 THEN '3' END
                   ], x -> x IS NOT NULL), ','), '') AS value_ids
            FROM orders WHERE o_orderkey < 1500 ORDER BY orderkey
        """,
        "fuzzy_commas": """
            SELECT o_orderkey AS orderkey,
                   -- emission order = piece order in the text; k%5 hits the
                   -- learned alias for option 2 (repeat kept when k%15==0,
                   -- the reference's duplicate-emission quirk); k%7 noise
                   -- shares no letter with any option/alias -> never matches
                   coalesce(array_to_string(list_filter([
                       CASE WHEN o_orderkey % 2 = 0 THEN '1' END,
                       CASE WHEN o_orderkey % 3 = 0 THEN '2' END,
                       CASE WHEN o_orderkey % 5 = 0 THEN '2' END
                   ], x -> x IS NOT NULL), ','), '') AS value_ids
            FROM orders WHERE o_orderkey < 1500 ORDER BY orderkey
        """,
        "fasttext_classifier": """
            SELECT o_orderkey AS orderkey,
                   ((o_orderkey % 18) // 6 + 1)::VARCHAR AS label_id
            FROM orders WHERE o_orderkey < 2000 ORDER BY orderkey
        """,
        "tfidf_classifier": """
            SELECT o_orderkey AS orderkey,
                   ((o_orderkey % 18) // 6 + 1)::VARCHAR AS label_id
            FROM orders WHERE o_orderkey < 2000 ORDER BY orderkey
        """,
        "html_extract": """
            SELECT o_orderkey AS orderkey,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN 'plain summary ' || o_orderkey::VARCHAR
                        ELSE 'Order ' || o_orderkey::VARCHAR
                             || chr(10) || chr(10)
                             || 'Status: ' || o_orderstatus
                             || chr(10) || chr(10)
                             || 'Priority & ' || o_orderpriority
                             || ' for customer ' || o_custkey::VARCHAR
                             || CASE WHEN o_orderkey % 3 = 0
                                     THEN chr(10) || chr(10) || 'lines total '
                                          || (o_orderkey % 7)::VARCHAR
                                     ELSE '' END
                   END AS extracted_text,
                   (CASE WHEN o_orderkey % 7 = 0 THEN 1
                         WHEN o_orderkey % 3 = 0 THEN 4
                         ELSE 3 END)::BIGINT AS n_segments
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "page_range_prune": """
            WITH base AS (
                SELECT o_orderkey AS orderkey, (o_orderkey % 13 + 6) AS p
                FROM orders WHERE o_orderkey < 1500
            )
            SELECT orderkey, mode, n_pages::BIGINT AS n_pages,
                   min_page::INT AS min_page, max_page::INT AS max_page
            FROM (
                SELECT orderkey, 'front' AS mode, 5 AS n_pages,
                       1 AS min_page, 5 AS max_page FROM base
                UNION ALL
                SELECT orderkey, 'back', 4, p - 3, p FROM base
                UNION ALL
                SELECT orderkey, 'fallback',
                       CASE WHEN p <= 7 THEN p ELSE 8 END, 1, p FROM base
            )
            ORDER BY orderkey, mode
        """,
        "streaming_running_totals": """
            SELECT user_id,
                   count(*)::BIGINT AS n_events,
                   sum(event_id)::BIGINT AS sum_event_id
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "audio_features": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 7 + 2) AS period,
                       (o_orderkey % 50 + 10) * 256 AS amp,
                       4000 + (o_orderkey % 5) * 800 AS n
                FROM orders WHERE o_orderkey < 1500
            )
            SELECT orderkey,
                   'pcm16' AS format,
                   8000::INT AS sample_rate,
                   1::INT AS channels,
                   n::BIGINT AS n_frames,
                   amp::BIGINT AS peak,
                   amp::BIGINT AS rms,
                   ((n - 1) // period)::BIGINT AS zero_crossings
            FROM base ORDER BY orderkey
        """,
        "fuzzy_first_last": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 6)::INT AS p1,
                       ((o_orderkey * 5 + 3) % 6)::INT AS p2,
                       (o_orderkey % 3)::INT AS a
                FROM orders WHERE o_orderkey < 2500
            ), lab AS (
                SELECT orderkey, p1, p2,
                       list_extract(['human rights council','general assembly',
                                     'security council'], a + 1) AS la,
                       list_extract(['human rights council','general assembly',
                                     'security council'], (a + 1) % 3 + 1) AS lb
                FROM base
            )
            SELECT orderkey,
                   CASE WHEN p1 < p2 THEN la ELSE lb END AS first_label,
                   'entry ' || orderkey || ' item ' || least(p1, p2) || ' ' ||
                       (CASE WHEN p1 < p2 THEN la ELSE lb END) || ' noted' AS first_ctx,
                   CASE WHEN p1 < p2 THEN lb ELSE la END AS last_label,
                   'entry ' || orderkey || ' item ' || greatest(p1, p2) || ' ' ||
                       (CASE WHEN p1 < p2 THEN lb ELSE la END) || ' noted' AS last_ctx
            FROM lab ORDER BY orderkey
        """,
        "regex_subtraction": """
            SELECT o_orderkey AS orderkey, 'w' || o_orderkey AS value
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "context_markup": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 3) AS p,
                       (o_orderkey % 7) AS m,
                       'alpha section ' || o_orderkey AS b0,
                       'middle part ' || o_orderkey AS b1,
                       'closing note ' || o_orderkey AS b2
                FROM orders WHERE o_orderkey < 2500
            ), parts AS (
                SELECT orderkey, p,
                       '<p class="ix_matching_paragraph">' ||
                       (CASE p WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END) ||
                       ' has <span class="ix_match">tag' || m ||
                       '</span> inside</p>' AS mp,
                       '<p class="ix_adjacent_paragraph">' || b0 || '</p>' AS a0,
                       '<p class="ix_adjacent_paragraph">' || b1 || '</p>' AS a1,
                       '<p class="ix_adjacent_paragraph">' || b2 || '</p>' AS a2
                FROM base
            )
            SELECT orderkey,
                   CASE p WHEN 0 THEN mp || a1
                          WHEN 1 THEN a0 || mp || a2
                          ELSE a1 || mp END AS markup
            FROM parts ORDER BY orderkey
        """,
        "llm_codegen": """
            SELECT o_orderkey AS orderkey,
                   'AB-' || (o_orderkey % 9000 + 1000) AS value
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "llm_codegen_multi": """
            SELECT o_orderkey AS orderkey,
                   -- array_to_string of an EMPTY list is NULL in DuckDB
                   -- vs Spark's '' — coalesce
                   coalesce(array_to_string(
                       list_filter([1, 2, 3],
                                   x -> ((o_orderkey % 8) >> (x - 1)) & 1 = 1),
                       ','), '') AS value_ids
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "scoring_metrics": """
            SELECT 75.0::DOUBLE AS f1_single,
                   (100.0 * 2 * 60 / 180)::DOUBLE AS f1_partial,
                   75.0::DOUBLE AS exact_acc,
                   100.0::DOUBLE AS f1_empty,
                   0.0::DOUBLE AS acc_empty
        """,
        "suggestion_format": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 3)::INT AS j,
                       list_extract(['human rights','rule of law','food security'],
                                    (o_orderkey % 3)::INT + 1) AS lab
                FROM orders WHERE o_orderkey < 1500
            )
            SELECT orderkey,
                   (j + 1)::VARCHAR AS value_id,
                   lab AS value_label,
                   '<p class="ix_matching_paragraph">the committee noted ' ||
                   '<span class="ix_match">' || lab || '</span> today</p>' AS markup,
                   (j + 1)::INT AS page_number,
                   (30.0 * (orderkey % 4) / 0.75)::DOUBLE AS box_left,
                   20.0::DOUBLE AS box_top,
                   80.0::DOUBLE AS box_width,
                   16.0::DOUBLE AS box_height,
                   (j + 1)::INT AS box_page
            FROM base ORDER BY orderkey
        """,
        "gliner_date": """
            SELECT o_orderkey AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS extracted_date
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "empty_placeholder": """
            SELECT o_orderkey AS orderkey,
                   CASE WHEN o_orderkey % 4 = 0
                        THEN 'order text ' || o_orderkey
                        ELSE 'EMPTY' END AS native_fixed,
                   CASE WHEN o_orderkey % 4 = 0
                        THEN 'order text ' || o_orderkey
                        ELSE 'EMPTY' END AS pandas_fixed
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "video_frames": """
            SELECT o_orderkey AS orderkey,
                   f::INT AS frame_idx,
                   'mjpeg' AS format,
                   16::INT AS height,
                   24::INT AS width,
                   ((o_orderkey * 7 + f * 31) % 200 + 20)::BIGINT AS mean_luma
            FROM orders, range(0, 3) t(f)
            WHERE o_orderkey < 1200
            ORDER BY orderkey, frame_idx
        """,
        "similarity_ratios": """
            SELECT o_orderkey AS orderkey,
                   (o_orderkey % 9 + 1)::INT AS m,
                   (200.0 * (o_orderkey % 9 + 1)) / ((o_orderkey % 9 + 1) + 10) AS indel,
                   100.0::DOUBLE AS partial
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "text_fuzzy_first_last": """
            SELECT o_orderkey AS orderkey,
                   list_extract(['human rights','security council',
                                 'general assembly'], o_orderkey % 3 + 1) AS first_label,
                   list_extract(['human rights','security council',
                                 'general assembly'], (o_orderkey + 1) % 3 + 1) AS last_label
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "date_pick": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 5)::INT AS p1,
                       (((o_orderkey % 5) + 1 + o_orderkey % 4) % 5)::INT AS p2,
                       strftime(o_orderdate, '%Y-%m-%d') AS d1,
                       strftime(o_orderdate + INTERVAL 40 DAY, '%Y-%m-%d') AS d2
                FROM orders WHERE o_orderkey < 2500
            )
            SELECT orderkey,
                   CASE WHEN p1 < p2 THEN d1 ELSE d2 END AS first_date,
                   CASE WHEN p1 < p2 THEN d2 ELSE d1 END AS last_date
            FROM base ORDER BY orderkey
        """,
        "orchestration_hygiene": """
            SELECT true AS swept_stale, true AS kept_fresh,
                   true AS stale_folder_wiped, true AS fresh_folder_kept,
                   5::INT AS split5_train, 5::INT AS split5_test,
                   8::INT AS split10_train, 10::INT AS split10_test,
                   80::INT AS split100_train, 20::INT AS split100_test,
                   32::INT AS strat_train, 8::INT AS strat_test,
                   true AS strat_disjoint
        """,
        "identity_methods": """
            SELECT o_orderkey AS orderkey,
                   'item ' || o_orderkey || ' of batch ' || (o_orderkey % 9) AS normalized,
                   'item' || o_orderkey || 'ofbatch' || (o_orderkey % 9) AS squashed
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "poppler_parse": """
            WITH base AS (
                SELECT o_orderkey AS orderkey,
                       (o_orderkey % 50 + 10) AS refno,
                       (o_orderkey % 7) AS fin
                FROM orders WHERE o_orderkey < 1200
            )
            SELECT orderkey, seg_idx::INT AS seg_idx, page::INT AS page, text
            FROM (
                SELECT orderkey, 0 AS seg_idx, 1 AS page,
                       'Hello world order ' || orderkey::VARCHAR AS text
                FROM base
                UNION ALL
                SELECT orderkey, 1, 1, 'ref ' || refno::VARCHAR FROM base
                UNION ALL
                SELECT orderkey, 2, 3,
                       'page three final ' || fin::VARCHAR FROM base
            )
            ORDER BY orderkey, seg_idx
        """,
        "fuzzy_triples_88": """
            SELECT DISTINCT l_orderkey::VARCHAR AS subj,
                   '1' AS obj_id,
                   'abacus cabal' AS obj_label
            FROM lineitem
            WHERE l_orderkey < 1200 AND l_orderkey % 3 = 0
            ORDER BY l_orderkey::BIGINT
        """,
        "lineage_replay": """
            SELECT count(*)::BIGINT AS total_rows,
                   16::INT AS n_buckets,
                   TRUE AS initial_ok,
                   TRUE AS deleted_detected,
                   2::INT AS failed_after_delete,
                   0::INT AS failed_after_replay,
                   TRUE AS replay_restored
            FROM orders WHERE o_orderkey < 5000
        """,
        "nw_alignment": """
            SELECT 'd' || d::VARCHAR AS doc,
                   i::INT AS main_idx,
                   (i + CASE WHEN d % 3 = 0 AND i >= 2 THEN 1 ELSE 0 END)::INT
                       AS other_idx,
                   1.0::DOUBLE AS score
            FROM range(80) t(d), range(4) s(i)
            ORDER BY doc, main_idx
        """,
        "regex_extraction": f"""
            SELECT o_orderkey AS orderkey,
                   (['{"','".join(_REGEX_PREFIXES)}'])[(o_orderkey % 4)::INT + 1]
                   || '-' || (o_orderkey % 9000 + 1000)::VARCHAR AS code
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "ner_first_last": f"""
            SELECT o_orderkey AS orderkey,
                   (['{"','".join(_NER_FIRST_A)}'])[(o_orderkey % 8)::INT + 1]
                   || ' ' ||
                   (['{"','".join(_NER_LAST_A)}'])[((o_orderkey // 8) % 8)::INT + 1]
                       AS first_person,
                   (['{"','".join(_NER_FIRST_B)}'])[(o_orderkey % 8)::INT + 1]
                   || ' ' ||
                   (['{"','".join(_NER_LAST_B)}'])[((o_orderkey // 8) % 8)::INT + 1]
                       AS last_person
            FROM orders WHERE o_orderkey < 2500 ORDER BY orderkey
        """,
        "connected_components": """
            WITH RECURSIVE
            base AS (
                SELECT DISTINCT 'c' || (o_custkey % 500)::VARCHAR AS a,
                                'c' || ((o_custkey + 7) % 500)::VARCHAR AS b
                FROM orders
            ),
            e AS (SELECT a AS u, b AS v FROM base UNION SELECT b, a FROM base),
            walk(u, reached) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM e) t
                UNION
                SELECT w.u, e.v FROM walk w JOIN e ON w.reached = e.u
            )
            SELECT u AS id, min(reached) AS component
            FROM walk GROUP BY u ORDER BY id
        """,
        "phash_dedup": _parity_phash_sql(synth_png_rows(_PHASH_N, _PHASH_SEED)),
        "jpeg_phash_dedup": _parity_phash_sql(synth_jpeg_rows(_PHASH_N, _PHASH_SEED)),
        "country_extraction": _country_oracle_sql(),
        "truecase": _truecase_oracle_sql(),
        "sanitize_language": _sanitize_language_oracle_sql(),
    }


def _label_centroid_sql(dim: int) -> str:
    comps = ",\n                   ".join(
        f"avg(embedding[{i + 1}]::DOUBLE) AS c{i}" for i in range(dim)
    )
    norm = " + ".join(f"c{i} * c{i}" for i in range(dim))
    return f"""
            WITH cent AS (
                SELECT label, {comps}, count(*) AS n_vecs
                FROM embeddings GROUP BY label)
            SELECT label, round(sqrt({norm}), 6) AS centroid_norm, n_vecs
            FROM cent ORDER BY label
    """


def _embedding_dim_at(path: str) -> int:
    """Embedding dimensionality from one parquet file, read driver-side
    with DuckDB (no Spark job)."""
    import duckdb

    return duckdb.sql(f"select len(embedding) from '{path}' limit 1").fetchone()[0]


def _embedding_dim(default: int = 64) -> int:
    for sf in ("sf0.01", "sf0.001", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if os.path.exists(path):
            return _embedding_dim_at(path)
    return default


def _parity_phash_sql(rows: list[tuple[str, bytes]]) -> str:
    """Executor-vs-driver parity oracle for the phash entries: recompute
    the expected (asset_id, phash) table with the SAME pure-Python codec
    in a plain driver loop (no Spark, no Arrow, no partitioning), inline
    it as a VALUES list, and have DuckDB reproduce the bucket aggregation
    over it. Catches any partition-/batch-dependent nondeterminism in the
    distributed mapInPandas decode; codec correctness itself is
    pytest-gated (tests/test_multimodal.py, tests/test_jpeg.py)."""
    from trainable_entity_extractor_spark.operators.multimodal import (
        average_phash64,
        decode_image_array,
    )

    values = ",\n                   ".join(
        "('{}', {})".format(aid.replace("'", "''"), average_phash64(decode_image_array(blob)))
        for aid, blob in rows
    )
    return f"""
            SELECT phash, count(*)::BIGINT AS n_assets, min(asset_id) AS keep_id
            FROM (VALUES {values}) AS t(asset_id, phash)
            GROUP BY phash HAVING count(*) > 1
            ORDER BY phash
        """
