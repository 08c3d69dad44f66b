"""Stage C: triple extraction over the segments table (SURVEY.md §7.1).

The bulk operator of the north star: subj=url, pred=extraction_name,
obj=matched option/mention. Semantics follow the reference's FuzzyAll
family (FuzzyAll100.py:23-41 — J1 in SURVEY §2.3), re-expressed Spark-first:

- threshold == 100 reduces to substring containment, so the hot path is a
  pure native broadcast theta-join (`contains`) — whole-stage codegen,
  zero Python.
- threshold < 100 falls back to the Arrow-batched partial_ratio kernel,
  with the reference's own length guard applied natively BEFORE the UDF
  (Catalyst can't see inside UDFs — SURVEY §4).

Dedup-to-first-appearance per (url, option) mirrors the reference's
"option matched once per document" rule (Appearance __eq__ dedup).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import normalize_text


def options_df(spark, options: list[tuple[str, str]]) -> DataFrame:
    """Small dimension (id, label) — always broadcast, never shuffled."""
    return spark.createDataFrame(options, schema="id string, label string")


def extract_triples(
    segments: DataFrame,
    options: DataFrame,
    pred_name: str,
    threshold: float = 100.0,
) -> DataFrame:
    """segments(url, seg_idx, page, text) × broadcast options → triples.

    Returns TRIPLES_SCHEMA-shaped rows: first appearance per (url, option).
    """
    seg = segments.select(
        "url", "seg_idx", "page", normalize_text(F.col("text")).alias("norm_text"), F.col("text").alias("segment_text")
    )
    opt = F.broadcast(
        options.select(
            F.col("id").alias("obj_id"),
            F.col("label").alias("obj_label"),
            F.lower(F.col("label")).alias("label_lower"),
            F.length(F.lower(F.col("label"))).alias("label_len"),
        )
    )

    if threshold >= 100.0:
        matched = seg.join(opt, F.col("norm_text").contains(F.col("label_lower")))
    else:
        # Native pre-filters, evaluated in codegen BEFORE any Python:
        # 1. length guard ceil(len(option)*t/100) (FuzzyAll100.py:31-32);
        # 2. character-presence bound: every option char absent from the
        #    whole text costs >=1 indel op, and partial_ratio >= t bounds
        #    the op budget at 2*len_opt*(1-t/100) — so pairs whose
        #    missing-char mass exceeds the budget can NEVER match (exact
        #    recall, no false drops). Segments carry one 36-bit presence
        #    mask (36 codegen'd `contains`); the tiny broadcast dim
        #    carries per-char counts. At large option spaces this prunes
        #    most of the |segments| x |options| candidate surface the
        #    Arrow kernel would otherwise score.
        alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
        mask = None
        for i, ch in enumerate(alphabet):
            bit = F.when(F.col("norm_text").contains(ch), F.lit(1 << i)).otherwise(F.lit(0))
            mask = bit if mask is None else mask + bit
        seg = seg.withColumn("_mask", mask.cast("long"))

        low = F.lower(F.col("label"))
        cnt_cols = [
            (F.length(low) - F.length(F.regexp_replace(low, ch, ""))).alias(f"_c{i}")
            for i, ch in enumerate(alphabet)
        ]
        opt = F.broadcast(
            options.select(
                F.col("id").alias("obj_id"),
                F.col("label").alias("obj_label"),
                low.alias("label_lower"),
                F.length(low).alias("label_len"),
                *cnt_cols,
            )
        )
        missing = None
        for i in range(len(alphabet)):
            term = F.when(
                F.shiftright(F.col("_mask"), i).bitwiseAND(F.lit(1)) == 0, F.col(f"_c{i}")
            ).otherwise(F.lit(0))
            missing = term if missing is None else missing + term
        budget = F.floor(F.col("label_len") * (2.0 * (1.0 - threshold / 100.0)))

        cand = seg.join(
            opt,
            (F.length("norm_text") >= F.ceil(F.col("label_len") * threshold / 100.0))
            & (missing <= budget),
        ).drop("_mask", *[f"_c{i}" for i in range(len(alphabet))])

        @F.pandas_udf(T.DoubleType())
        def score_udf(label: pd.Series, text: pd.Series) -> pd.Series:
            from ..functions.fuzzy import partial_ratio

            th = threshold
            return pd.Series(
                [partial_ratio(l, t, th) for l, t in zip(label, text)], dtype="float64"
            )

        matched = cand.filter(score_udf(F.col("label_lower"), F.col("norm_text")) >= threshold)

    # first appearance per (url, option): min_by avoids a window sort.
    first = matched.groupBy("url", "obj_id", "obj_label").agg(
        F.min("seg_idx").alias("seg_idx"),
        F.min_by(F.struct("segment_text", "page"), "seg_idx").alias("ctx"),
    )
    return first.select(
        F.col("url").alias("subj"),
        F.lit(pred_name).alias("pred"),
        "obj_id",
        "obj_label",
        F.col("ctx.segment_text").alias("obj_text"),
        F.col("ctx.segment_text").alias("segment_text"),
        F.col("ctx.page").alias("page"),
    )
