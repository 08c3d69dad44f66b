"""Text scalar functions — native Spark Column helpers plus bit-identical
Python twins used by tests/oracles (input_hint requires byte-identical
text derivations, so both sides pin the same semantics).

Reference cites: whitespace collapse ToTextExtractorMethod.py:57-59 (X1),
accent strip TextFuzzyFirstCleanLabels.py:52-56 (X4), alnum clean
TextToMultiOptionMethod.get_text (X5), language sanitize
drivers/TrainableEntityExtractor.py:74-92 (F16).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# Locales accepted by the reference's sanitizer (dateparser's locale set in
# the reference; pinned here as an explicit public list — ISO-639-1 subset).
KNOWN_LANGS = {
    "af", "ar", "az", "be", "bg", "bn", "bs", "ca", "cs", "cy", "da", "de",
    "el", "en", "eo", "es", "et", "eu", "fa", "fi", "fr", "ga", "gl", "he",
    "hi", "hr", "hu", "hy", "id", "is", "it", "ja", "ka", "kk", "km", "kn",
    "ko", "ky", "lo", "lt", "lv", "mk", "ml", "mn", "mr", "ms", "nb", "nl",
    "nn", "no", "pa", "pl", "ps", "pt", "ro", "ru", "si", "sk", "sl", "sq",
    "sr", "sv", "sw", "ta", "te", "th", "tl", "tr", "uk", "ur", "uz", "vi",
    "zh",
}


# ---------------- native Column expressions (JVM-side, codegen) -----------

def collapse_whitespace(col: Column) -> Column:
    """X1: ' '.join(text.split()) as a native expression."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def normalize_text(col: Column) -> Column:
    """Lower-cased collapse_whitespace: the one text normalizer shared by
    document fingerprints, triple matching and mention signatures."""
    return F.lower(collapse_whitespace(col))


def sanitize_language(col: Column) -> Column:
    """F16: 2-letter-prefix into the known locale set, else 'en'."""
    two = F.lower(F.substring(F.coalesce(col, F.lit("")), 1, 2))
    return F.when(two.isin(*sorted(KNOWN_LANGS)), two).otherwise(F.lit("en"))


# ---------------- Python twins (for oracles / driver-side tiny data) ------

def py_clean_alnum_words(text: str | None) -> str:
    words = []
    for word in (text or "").split():
        clean = "".join(ch for ch in word if ch.isalpha() or ch.isdigit())
        if clean:
            words.append(clean)
    return " ".join(words)


def py_remove_accents(text: str) -> str:
    """X4: NFKD normalize then drop non-ASCII (TextFuzzyFirstCleanLabels.py:52-56)."""
    nfkd_form = unicodedata.normalize("NFKD", text)
    return nfkd_form.encode("ASCII", "ignore").decode()


def py_sanitize_language(lang: str | None) -> str:
    two = (lang or "").lower()[:2]
    return two if two in KNOWN_LANGS else "en"


def clean_labels(labels: list[str]) -> list[str]:
    """X6: strip words shared across options (count>1) from each label as
    long as something non-empty remains (TextFuzzyFirstCleanLabels.py:58-77).
    Input labels are lowered+accent-stripped by the caller."""
    from collections import Counter

    words_counter: Counter[str] = Counter()
    for option in labels:
        words_counter.update(option.split())

    clean_options: list[str] = []
    for option in labels:
        clean_options.append(option)
        for word, count in words_counter.most_common():
            if count == 1:
                continue
            if word not in option:
                continue
            if clean_options[-1].replace(word, "").strip() != "":
                clean_options[-1] = clean_options[-1].replace(word, "").strip()
    return clean_options


def clean_labels_keep_long(labels: list[str]) -> list[str]:
    """pdf variant of clean_labels: only strip a shared word when >3 chars
    remain (FuzzyFirstCleanLabel.get_cleaned_options:64-80)."""
    from collections import Counter

    words_counter: Counter[str] = Counter()
    for option in labels:
        words_counter.update(option.split())

    clean_options: list[str] = []
    for option in labels:
        clean_options.append(option)
        for word, count in words_counter.most_common():
            if count == 1:
                continue
            if word not in option:
                continue
            if len(clean_options[-1].replace(word, "").strip()) > 3:
                clean_options[-1] = clean_options[-1].replace(word, "").strip()
    return clean_options
