"""Text-analysis operators for training-data pipelines: language ID
(n-gram heuristic), quality scoring, token counting, fingerprinting.
All native column expressions (no UDFs) so they run inside codegen and are
oracle-expressible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny stopword marker sets per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
}


def token_count(col):
    """Whitespace + BPE-ish token estimate: words plus punctuation runs."""
    words = F.size(F.filter(F.split(col, r"\s+"), lambda w: w != ""))
    punct = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return (words + punct).alias("token_count")


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality signals: length, token count, alpha ratio,
    punctuation ratio, stopword ratio, mean word length."""
    # shared subtrees staged once (round 6): the words array fed 4 output
    # expressions and the alpha regex 2 — each reference re-ran the
    # interpreted split / regex per row. CollapseProject keeps the stage
    # because the non-cheap aliases are multi-referenced (SPARK-36718).
    t = F.col(text_col)
    staged = docs.select(
        F.col(id_col),
        F.length(t).alias("_nc"),
        F.filter(F.split(F.lower(t), r"\s+"), lambda w: w != "").alias("_w"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).alias("_alpha"),
        F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).alias("_punct"),
    )
    n_chars = F.col("_nc")
    alpha = F.col("_alpha")
    punct = F.col("_punct")
    n_words = F.size(F.col("_w"))
    stop = F.size(F.filter(F.col("_w"), lambda w: w.isin(*LANG_MARKERS["en"])))
    return staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(alpha / F.greatest(n_chars, F.lit(1)), 4).alias("alpha_ratio"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(stop / F.greatest(n_words, F.lit(1)), 4).alias("stopword_ratio"),
        F.round((alpha / F.greatest(n_words, F.lit(1))), 4).alias("mean_word_len"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: argmax over marker-hit counts with 'en'
    fallback. Deterministic tie-break by language code."""
    # words array staged once: the 4 per-language vote structs share it
    # instead of re-splitting per language (round 6; same CollapseProject
    # guard as quality_features).
    staged = docs.select(
        F.col(id_col),
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "").alias("_w"),
    )
    scores = [
        F.struct(
            F.size(F.filter(F.col("_w"), lambda w: w.isin(*markers))).alias("hits"),
            F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tie"),  # 'de'<'en'<'es'<'fr' pref by code asc
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return staged.select(
        F.col(id_col),
        F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(F.lit("en")).alias(
            "detected_lang"
        ),
    )
