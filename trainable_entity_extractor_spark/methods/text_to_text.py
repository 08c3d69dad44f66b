"""Text→Text method family (SURVEY.md §2.9 M1-M3).

Reference sources: SameInputOutputMethod.py:6-22, InputWithoutSpaces.py:6-19,
RegexMethod.py:13-34, NoSpacesRegexMethod.py:13-40,
RegexSubtractionMethod.py:13-96, DateParserMethod.py:32-90,
DateParserWithBreaksMethod.py:7-41. Regex induction uses our from-scratch
rexpy_lite (the reference depends on tdda's rexpy).
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd

from ..functions import rexpy_lite
from ..functions.dates import (
    DOTTED_DATE_PATTERN,
    DOTTED_DMY_LANGUAGES,
    date_spans,
    get_best_date,
    search_dates,
)
from .base import MethodBase, input_text, input_texts_by_lines
from .llm_codegen import LlmCodegenTextMethod


class SameInputOutputMethod(MethodBase):
    kind = "to_text"

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        return pd.Series(
            [" ".join(" ".join(input_texts_by_lines(row)).split()) for _, row in pdf.iterrows()],
            index=pdf.index,
            dtype=object,
        )


class InputWithoutSpaces(MethodBase):
    kind = "to_text"

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        return pd.Series(
            ["".join("".join(input_texts_by_lines(row)).split()) for _, row in pdf.iterrows()],
            index=pdf.index,
            dtype=object,
        )


class RegexMethod(MethodBase):
    """Induce anchored regexes from label texts; predict = first regex in
    list order whose re.search matches (first-match-wins is sequential —
    kept inside the batch kernel, SURVEY.md §7.4)."""

    kind = "to_text"

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        samples = [x for x in train_pdf["label_text"].tolist() if x]
        regex_list = [r[1:-1] for r in rexpy_lite.extract(samples)]
        return {"regex_list": regex_list}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        regex_list = [re.compile(r) for r in artifact.get("regex_list", [])]
        out = []
        for _, row in pdf.iterrows():
            text = " ".join(input_texts_by_lines(row))
            prediction = ""
            for regex in regex_list:
                match = regex.search(text)
                if match:
                    prediction = str(match.group())
                    break
            out.append(prediction)
        return pd.Series(out, index=pdf.index, dtype=object)


class NoSpacesRegexMethod(MethodBase):
    """Like RegexMethod but only trains when no label contains spaces, and
    matches against the space-stripped input (NoSpacesRegexMethod.py:13-40)."""

    kind = "to_text"

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        samples = [x for x in train_pdf["label_text"].tolist() if x and x.strip()]
        if any(" " in s for s in samples):
            return {"regex_list": []}
        regex_list = [r[1:-1] for r in rexpy_lite.extract(samples)]
        return {"regex_list": regex_list}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        regex_list = [re.compile(r) for r in artifact.get("regex_list", [])]
        out = []
        for _, row in pdf.iterrows():
            text = " ".join(input_texts_by_lines(row)).replace(" ", "")
            prediction = ""
            for regex in regex_list:
                match = regex.search(text)
                if match:
                    prediction = str(match.group())
                    break
            out.append(prediction)
        return pd.Series(out, index=pdf.index, dtype=object)


class RegexSubtractionMethod(MethodBase):
    """Learn boundary regexes from (input - label) prefixes/suffixes and
    strip them at predict (RegexSubtractionMethod.py:13-96)."""

    kind = "to_text"

    @staticmethod
    def _first_subtraction(segment_text: str, text: str) -> str:
        if not text or text not in segment_text or text == segment_text:
            return ""
        first_index = segment_text.find(text)
        if not first_index:
            return ""
        return segment_text[:first_index]

    @staticmethod
    def _last_subtraction(segment_text: str, text: str) -> str:
        if not text or text not in segment_text or text == segment_text:
            return ""
        first_index = segment_text.find(text) + len(text)
        if not first_index:
            return ""
        return segment_text[first_index:]

    def can_be_used(self, train_pdf, ctx) -> bool:
        head = train_pdf.head(20)
        fronts, backs = [], []
        for _, row in head.iterrows():
            joined = " ".join(input_texts_by_lines(row))
            label = row.get("label_text") or ""
            front = self._first_subtraction(joined, label)
            back = self._last_subtraction(joined, label)
            if front:
                fronts.append(front)
            if back:
                backs.append(back)
        return len(rexpy_lite.extract(fronts)) <= 4 and len(rexpy_lite.extract(backs)) <= 4

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        fronts, backs = [], []
        for _, row in train_pdf.head(500).iterrows():
            joined = " ".join(input_texts_by_lines(row))
            label = row.get("label_text") or ""
            front = self._first_subtraction(joined, label)
            back = self._last_subtraction(joined, label)
            if front:
                fronts.append(front)
            if back:
                backs.append(back)
        # reference keeps the leading '^' on front regexes ([: -1] strips '$')
        # and the trailing '$' on back regexes ([1:] strips '^').
        front_regex_list = [r[:-1] for r in rexpy_lite.extract(fronts)]
        back_regex_list = [r[1:] for r in rexpy_lite.extract(backs)]
        return {"regex_list": front_regex_list + back_regex_list}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        regex_list = artifact.get("regex_list", [])
        out = []
        for _, row in pdf.iterrows():
            prediction = " ".join(input_texts_by_lines(row))
            for regex in regex_list:
                matches = re.search(regex, prediction)
                if matches and not matches.start():
                    prediction = prediction[matches.end():]
                    continue
                if matches and matches.end() == len(prediction):
                    prediction = prediction[: matches.start()]
            out.append(prediction.strip())
        return pd.Series(out, index=pdf.index, dtype=object)


class DateParserMethod(MethodBase):
    """Multi-language date search; validity probed on <=15 labeled rows at
    fit (DateParserMethod.py:59-71); predict emits %Y-%m-%d."""

    kind = "to_text"

    @staticmethod
    def get_date(tags_texts: list[str], languages: list[str]):
        if not tags_texts:
            return None
        text = " ".join(tags_texts)
        langs = [l for l in languages if l]
        dates = search_dates(text, langs or None)
        if langs and any(l in DOTTED_DMY_LANGUAGES for l in langs) and DOTTED_DATE_PATTERN.search(text):
            de_dates = []
            for match in DOTTED_DATE_PATTERN.findall(text):
                de_dates.extend(search_dates(match, ["de"]))
            if de_dates:
                dates = de_dates + (dates or [])
        if not dates:
            dates = search_dates(text)
        return get_best_date(dates)

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        languages = [x or "" for x in train_pdf.get("language_iso", pd.Series(dtype=object)).tolist()]
        for label in train_pdf["label_text"].head(15).tolist():
            if not (label or "").strip():
                continue
            if not self.get_date([label], languages):
                return {"is_valid": False, "languages": []}
        return {"is_valid": True, "languages": sorted(set(languages))}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        if not artifact.get("is_valid", False):
            return pd.Series([""] * len(pdf), index=pdf.index, dtype=object)
        languages = artifact.get("languages", [])
        out = []
        for _, row in pdf.iterrows():
            date = self.get_date(input_texts_by_lines(row), languages)
            out.append(date.strftime("%Y-%m-%d") if date else "")
        return pd.Series(out, index=pdf.index, dtype=object)


class DateParserWithBreaksMethod(DateParserMethod):
    """Variant scoring line-broken text first (DateParserWithBreaksMethod.py:7-41)."""

    @staticmethod
    def get_date(tags_texts: list[str], languages: list[str]):
        if not tags_texts:
            return None
        text = " ".join(tags_texts)
        text_with_breaks = "\n".join(tags_texts)
        langs = [l for l in languages if l]
        dates = search_dates(text_with_breaks, langs or None) or []
        dates_without_breaks = search_dates(text, langs or None)
        if dates_without_breaks:
            dates = dates + dates_without_breaks
        if langs and any(l in DOTTED_DMY_LANGUAGES for l in langs) and DOTTED_DATE_PATTERN.search(text):
            de_dates = []
            for match in DOTTED_DATE_PATTERN.findall(text):
                de_dates.extend(search_dates(match, ["de"]))
            if de_dates:
                dates = de_dates + (dates or [])
        if not dates:
            dates = search_dates(text_with_breaks)
        return get_best_date(dates)


class GlinerStyleDateMethod(MethodBase):
    """X8 GLiNER date-NER slot, deterministic stand-in (reference
    GlinerDateParserMethod.py:13-57 + GlinerDateExtractor.py:30-60).
    The whole surrounding algorithm is reproduced: predict-time
    alphanumeric-with-spaces normalization, 50-word sliding windows with
    25-word stride and the reference's slide-end index arithmetic,
    unique-entity dedup (sort_keys JSON identity), parseable-date
    filter, overlap removal sorted by (start, -len), first surviving
    date wins; train validates that the first 15 non-empty label_texts
    (un-normalized, as the reference does) each yield a findable date,
    else the artifact is marked invalid and predict returns '' for every
    row. Only the neural tagger itself is replaced: `predict_entities(
    text, ["date"])` becomes functions/dates.py `date_spans` (same span
    dict contract, documented weaker recall — e.g. the reference's
    alnum normalization strips date punctuation, so ISO '1995-03-14'
    predict inputs become '19950314', which a real GLiNER may still tag
    but the pattern tagger will not). A real GLiNER backend drops into
    `_tag_spans` unchanged."""

    kind = "to_text"
    WINDOW, SLIDE = 50, 25

    @staticmethod
    def _alnum(text: str) -> str:
        return "".join(c for c in text if c.isalnum() or c.isspace())

    @staticmethod
    def _tag_spans(text: str) -> list[dict]:
        return date_spans(text)

    @classmethod
    def _extract_dates(cls, text: str):
        import json as _json

        words = text.split()
        entities: list[dict] = []
        last_slide_end_index = 0
        for i in range(0, len(words), cls.SLIDE):
            window_text = " ".join(words[i : i + cls.WINDOW])
            window_entities = cls._tag_spans(window_text)
            for e in window_entities:
                e["start"] += last_slide_end_index
                e["end"] += last_slide_end_index
            slide_text = " ".join(words[i : i + cls.SLIDE])
            last_slide_end_index += len(slide_text) + 1
            entities.extend(window_entities)
        unique = list(
            {_json.dumps(d, sort_keys=True): d for d in entities}.values()
        )
        unique = [e for e in unique if search_dates(e["text"])]
        result, last_end = [], -1
        for e in sorted(unique, key=lambda x: (x["start"], -len(x["text"]))):
            if e["start"] >= last_end:
                result.append(e)
                last_end = e["end"]
        return [d[1] for e in result for d in search_dates(e["text"])]

    def fit(self, train_pdf, ctx) -> dict[str, Any]:
        for _, row in train_pdf.head(15).iterrows():
            label = (row.get("label_text") or "").strip()
            if not label:
                continue
            if not self._extract_dates(label):
                return {"is_valid": False}
        return {"is_valid": True}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        if not artifact.get("is_valid", True):
            return pd.Series([""] * len(pdf), index=pdf.index, dtype=object)
        out = []
        for _, row in pdf.iterrows():
            text = self._alnum(" ".join(input_texts_by_lines(row)))
            dates = self._extract_dates(text)
            out.append(dates[0].strftime("%Y-%m-%d") if dates else "")
        return pd.Series(out, index=pdf.index, dtype=object)


class NerFirstAppearanceMethod(MethodBase):
    """W8/M4 (NerFirstAppearanceMethod.py:13-49): learn the MODE span tag
    whose spans contain the label, predict the first span of that type.
    Backed by the deterministic pattern tagger (functions/ner_lite.py)
    instead of the absent flair model — same span/type contract."""

    kind = "to_text"
    reverse = False

    def can_be_used(self, train_pdf, ctx) -> bool:
        return not ctx.options

    def fit(self, train_pdf, ctx):
        from collections import Counter

        from ..functions.ner_lite import tag_spans

        clean = lambda t: " ".join((t or "").split())
        types: Counter[str] = Counter()
        order: list[str] = []
        for _, row in train_pdf.iterrows():
            text = clean(input_text(row))
            label = clean(row.get("label_text") or "").lower()
            if not label:
                continue
            for span, tag in tag_spans(text):
                if label in clean(span).lower():
                    types[tag] += 1
                    order.append(tag)
                    break
        if not types:
            return {"tag_type": ""}
        # statistics.mode semantics: most common, first-seen tie-break
        best = max(types, key=lambda t: (types[t], -order.index(t)))
        return {"tag_type": best}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        from ..functions.ner_lite import tag_spans

        tag_type = artifact.get("tag_type") or ""
        out = []
        for _, row in pdf.iterrows():
            if not tag_type:
                out.append("")
                continue
            spans = tag_spans(input_text(row))
            if self.reverse:
                spans = list(reversed(spans))
            out.append(next((s for s, t in spans if t == tag_type), ""))
        return pd.Series(out, index=pdf.index)


class NerLastAppearanceMethod(NerFirstAppearanceMethod):
    reverse = True


class TrueCasingMethod(MethodBase):
    """Stands at the MT5TrueCaseEnglishSpanishMethod slot (M8). The MT5
    method is a seq2seq trained on (lowercased input → cased label); its
    benchmark tasks are true-casing, which the trainable statistical
    truecaser (functions/truecase.py) covers without the GPU model: fit
    casing distributions from the labels, predict = recase the input.
    Gated to tasks whose labels actually look like case-variants of the
    input, so it never competes elsewhere. The full seq2seq rewrite
    capability remains out of scope (documented)."""

    kind = "to_text"

    @staticmethod
    def _clean(t: str) -> str:
        return " ".join((t or "").split())

    def can_be_used(self, train_pdf, ctx) -> bool:
        if ctx.options or len(train_pdf) == 0:
            return False
        hits = 0
        for _, row in train_pdf.iterrows():
            label = self._clean(row.get("label_text") or "").lower()
            text = self._clean(input_text(row)).lower()
            if label and label in text:
                hits += 1
        return hits >= 0.6 * len(train_pdf)

    def fit(self, train_pdf, ctx):
        from ..functions.truecase import fit_truecaser

        labels = [self._clean(row.get("label_text") or "") for _, row in train_pdf.iterrows()]
        return {"truecaser": fit_truecaser([l for l in labels if l])}

    def predict_pandas(self, pdf, ctx, artifact) -> pd.Series:
        from ..functions.truecase import truecase

        model = artifact.get("truecaser") or {"casing": {}, "uni": {}, "bw": {}, "fw": {}, "tri": {}}
        out = [
            truecase(self._clean(input_text(row)).lower(), model) for _, row in pdf.iterrows()
        ]
        return pd.Series(out, index=pdf.index)


TEXT_TO_TEXT_METHODS: list[type[MethodBase]] = [
    SameInputOutputMethod,
    InputWithoutSpaces,
    RegexMethod,
    NoSpacesRegexMethod,
    RegexSubtractionMethod,
    DateParserWithBreaksMethod,
    DateParserMethod,
    GlinerStyleDateMethod,  # X8 slot: deterministic span tagger stand-in
    NerFirstAppearanceMethod,
    NerLastAppearanceMethod,
    LlmCodegenTextMethod,  # M9 Gemini/Ollama slot: iterative codegen loop
    # with the deterministic synthesizer in the model slot (a hosted
    # client drops into code_model); the second M9 seat (Ollama) is the
    # same loop with a different client, so one registration covers both.
    TrueCasingMethod,  # MT5TrueCaseEnglishSpanish position (truecasing facet)
]
