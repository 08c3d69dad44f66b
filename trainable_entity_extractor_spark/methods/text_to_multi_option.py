"""Text→MultiOption method family (SURVEY.md §2.3 J1/J2, §2.9 M5).

Reference sources: NaiveTextToMultiOptionMethod.py, FirstWordRegex.py:18-77,
TextFuzzyFirst.py:13-46, TextFuzzyFirstCleanLabels.py:16-77,
TextFuzzyLast.py, TextFuzzyAll100.py:13-45 (+88/75 threshold subclasses).

Method order below matches TextToMultiOptionExtractor.METHODS (reference
TextToMultiOptionExtractor.py:74-91) minus network/GPU methods, so the
tournament's early-exit picks the same winner.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd

from ..functions import rexpy_lite
from ..functions.fuzzy import text_fuzzy_all_appearances, text_fuzzy_first_last_appearance
from ..functions.text import clean_labels, py_remove_accents
from .base import MethodBase, input_text


class NaiveTextToMultiOptionMethod(MethodBase):
    kind = "multi_option"

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        first = [o.to_dict() | {"segment_text": ""} for o in ctx.options[:1]]
        return pd.Series([list(first) for _ in range(len(pdf))], index=pdf.index, dtype=object)


class TextToCountries(MethodBase):
    """J6 gazetteer join (TextToCountries.py:22-107): usable when >50% of
    option labels contain a country; predict = countries found in text
    mapped to options, plus cleaned-substring matching (longest-first with
    consumption) for non-country options."""

    kind = "multi_option"

    @staticmethod
    def _clean(text: str) -> str:
        import re as _re
        import unicodedata as _ud

        text = _ud.normalize("NFD", text)
        text = "".join(c for c in text if _ud.category(c) != "Mn")
        return _re.sub(r"[^a-zA-Z0-9\s]", "", text).lower()

    def can_be_used(self, train_pdf, ctx) -> bool:
        from ..functions.countries import find_countries

        if not ctx.options:
            return False
        matched = sum(1 for o in ctx.options if find_countries(o.label))
        return matched / len(ctx.options) > 0.5

    def fit(self, train_pdf, ctx):
        from ..functions.countries import find_countries

        keywords = []
        for option in ctx.options:
            detected = find_countries(option.label)
            if detected:
                keywords.append(
                    {"keyword": detected[0], "option_id": option.id, "is_country": True}
                )
            else:
                keywords.append(
                    {"keyword": self._clean(option.label), "option_id": option.id, "is_country": False}
                )
        return {"keywords": keywords}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        from ..functions.countries import find_countries

        keywords = artifact.get("keywords", [])
        by_country = {k["keyword"]: k["option_id"] for k in keywords if k["is_country"]}
        non_country = sorted(
            (k for k in keywords if not k["is_country"]),
            key=lambda k: len(k["keyword"]),
            reverse=True,
        )
        id_to_option = {o.id: o for o in ctx.options}
        out = []
        for _, row in pdf.iterrows():
            text = input_text(row)
            ids: list[str] = []
            for country in find_countries(text):
                if country in by_country:
                    ids.append(by_country[country])
            text_clean = self._clean(text)
            for k in non_country:
                kw = self._clean(k["keyword"])
                if kw and kw in text_clean:
                    ids.append(k["option_id"])
                    text_clean = text_clean.replace(kw, "", 1)
            out.append(
                [id_to_option[i].to_dict() | {"segment_text": ""} for i in ids if i in id_to_option]
            )
        return pd.Series(out, index=pdf.index, dtype=object)


class FirstWordRegex(MethodBase):
    """Per-option regexes induced from first words of its positive samples;
    predict matches the sample's first word; options ordered by regex-list
    size ascending; fallback = option with the largest regex list
    (FirstWordRegex.py:22-77)."""

    kind = "multi_option"

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        per_option: dict[str, list[str]] = {}
        for option in ctx.options:
            texts = []
            for _, row in train_pdf.iterrows():
                values = row.get("values") or []
                if any(v["id"] == option.id for v in values):
                    text = input_text(row)
                    if text:
                        texts.append(text)
            first_words = [t.split()[0] for t in texts if t.split()]
            regex_list = [r[1:-1] for r in rexpy_lite.extract(first_words)]
            per_option[option.id] = regex_list
        return {"per_option": per_option}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        per_option = artifact.get("per_option", {})
        options_regex = sorted(
            ((o, per_option.get(o.id, [])) for o in ctx.options), key=lambda x: len(x[1])
        )
        fallback = [options_regex[-1][0]] if options_regex else []
        out = []
        for _, row in pdf.iterrows():
            text = input_text(row)
            predictions: list[str] = []
            if text.strip():
                first_word = text.split()[0]
                for option, regex_list in options_regex:
                    if any(re.match(regex, first_word) for regex in regex_list):
                        predictions.append(option.id)
                    if not ctx.multi_value and predictions:
                        break
            if predictions:
                chosen = [o for o in ctx.options if o.id in predictions]
            else:
                chosen = list(fallback) if text.strip() else []
            out.append([o.to_dict() | {"segment_text": ""} for o in chosen])
        return pd.Series(out, index=pdf.index, dtype=object)


class _TextFuzzyFirstLast(MethodBase):
    kind = "multi_option"
    reverse = False
    clean = False

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        if self.clean:
            labels = clean_labels([py_remove_accents(o.label.lower()) for o in ctx.options])
            match_keys = [py_remove_accents(o.label).lower() for o in ctx.options]
        else:
            labels = [o.label.lower() for o in ctx.options]
            match_keys = labels
        out = []
        for _, row in pdf.iterrows():
            text = input_text(row)
            if self.clean:
                text = py_remove_accents(text)
            hit = text_fuzzy_first_last_appearance(text, labels, self.reverse) if labels else None
            if hit is None:
                out.append([])
                continue
            # map back: reference filters options whose accent-stripped label
            # equals the hit (TextFuzzyFirstCleanLabels.py:44-46 — note this
            # intentionally misses options whose label was altered by
            # clean_labels; we reproduce that quirk).
            chosen = [o for o, k in zip(ctx.options, match_keys) if k == hit]
            out.append([o.to_dict() | {"segment_text": ""} for o in chosen])
        return pd.Series(out, index=pdf.index, dtype=object)


class TextFuzzyFirst(_TextFuzzyFirstLast):
    reverse = False


class TextFuzzyFirstCleanLabels(_TextFuzzyFirstLast):
    reverse = False
    clean = True


class TextFuzzyLast(_TextFuzzyFirstLast):
    reverse = True


class TextFuzzyLastCleanLabels(_TextFuzzyFirstLast):
    reverse = True
    clean = True


class TextFuzzyAll100(MethodBase):
    """J1: every option scoring partial_ratio >= threshold on the full text
    (TextFuzzyAll100.py:20-41). threshold==100 reduces to substring
    containment — the Spark bulk path for this method is a native
    `contains` expression (operators/fuzzy_join.py)."""

    kind = "multi_option"
    threshold = 100.0

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        labels = [o.label.lower() for o in ctx.options]
        out = []
        for _, row in pdf.iterrows():
            text = input_text(row)
            matched = set(text_fuzzy_all_appearances(text, labels, self.threshold))
            chosen = [o for o, lab in zip(ctx.options, labels) if lab in matched]
            out.append([o.to_dict() | {"segment_text": ""} for o in chosen])
        return pd.Series(out, index=pdf.index, dtype=object)


class TextFuzzyAll88(TextFuzzyAll100):
    threshold = 88.0


class TextFuzzyAll75(TextFuzzyAll100):
    threshold = 75.0


TEXT_TO_MULTI_OPTION_METHODS: list[type[MethodBase]] = [
    NaiveTextToMultiOptionMethod,
    TextToCountries,
    FirstWordRegex,
    TextFuzzyFirst,
    TextFuzzyFirstCleanLabels,
    TextFuzzyLast,
    TextFuzzyLastCleanLabels,
    TextFuzzyAll100,
    TextFuzzyAll88,
    TextFuzzyAll75,
    # TF-IDF one-vs-rest stands in at the SetFit (trainable classifier)
    # slot — same tournament position: only wins when the deterministic
    # methods are imperfect.
]

from .llm_codegen import LlmCodegenMultiOptionMethod  # noqa: E402

# M9 Gemini/Ollama multi-option seat: the iterative codegen loop with the
# deterministic containment synthesizer in the model slot — registered at
# the reference's position (after the fuzzy family, before the trainable
# classifier), so it only wins when every deterministic method is
# imperfect, exactly like the reference's ordering.
TEXT_TO_MULTI_OPTION_METHODS.append(LlmCodegenMultiOptionMethod)

from .tfidf import TextTfIdf  # noqa: E402  (placed after fuzzy family)

TEXT_TO_MULTI_OPTION_METHODS.append(TextTfIdf)
