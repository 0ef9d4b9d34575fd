"""Language identification: marker-token heuristic + vectorized UDF.

Two implementations of the SAME deterministic scoring model:

- ``langid_expr`` — pure column expressions (Catalyst, zero Python);
  rendered for DuckDB too (``langid_sql``) so it is oracle-checkable.
- ``langid_pandas_udf`` — the fastText-shaped path: a vectorized
  Series→Series pandas UDF whose "model" (marker-token table) is built
  lazily once per Python worker, the pattern the north star requires
  for real fastText/KenLM models (reference analogue: the class-level
  scrubber singleton, /root/reference/SMParser/smparserbase.py:72-79).
  pytest asserts both paths agree row-for-row.

Model: score(lang) = number of tokens in lang's marker set; prediction
is the argmax with ties broken in fixed order (en, de, fr, es); 'und'
when every score is zero. Swap the marker table for a real fastText
model in production — the Spark plumbing (Arrow batches, lazy init,
schema) is identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .quality import words_expr, words_sql

# disjoint marker sets, fixed priority order
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "you", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "mit"),
    "fr": ("le", "les", "et", "est", "pas", "je", "vous", "dans"),
    "es": ("el", "los", "las", "por", "que", "para", "una", "como"),
}
LANG_ORDER: tuple[str, ...] = ("en", "de", "fr", "es")
UNKNOWN_LANG = "und"


def lang_score_sql(text: str, lang: str) -> str:
    w = words_sql(text)
    inlist = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({w}, x -> x in ({inlist})))"


def _scores_array_expr(text: Column) -> Column:
    """All four marker scores as ONE array, with the word split bound
    once: the split is a let_expr argument (evaluated once per row) and
    each per-lang ``size(filter(...))`` sits in HOF-argument position
    over the bound lambda variable — so the projection provably
    computes the split once and each count once (VERDICT r05 item 7:
    the naive CASE chain re-stated each count up to 4×, and Catalyst's
    _common_expr extraction did not fire for the langid branches)."""
    from .text import let_expr

    return let_expr(
        words_expr(text),
        lambda w: F.array(*[
            F.size(F.filter(w, lambda x: x.isin(*LANG_MARKERS[lang])))
            for lang in LANG_ORDER
        ]),
    )


def langid_expr(text: Column) -> Column:
    """Predicted language as a CASE chain over marker scores — scores
    pre-projected once via _scores_array_expr; the chain body touches
    only the bound array (O(1) slot reads)."""
    from .text import let_expr

    def body(sc: Column) -> Column:
        s = [F.element_at(sc, i + 1) for i in range(len(LANG_ORDER))]
        pred = F.lit(UNKNOWN_LANG)
        # build the when-chain back-to-front so earlier langs win ties
        for i in range(len(LANG_ORDER) - 1, -1, -1):
            cond = s[i] > 0
            for j in range(i + 1, len(LANG_ORDER)):
                cond = cond & (s[i] >= s[j])
            pred = F.when(cond, F.lit(LANG_ORDER[i])).otherwise(pred)
        return pred

    return let_expr(_scores_array_expr(text), body)


def langid_sql(text: str) -> str:
    parts = []
    for i, lang in enumerate(LANG_ORDER):
        conds = [f"{lang_score_sql(text, lang)} > 0"]
        for later in LANG_ORDER[i + 1:]:
            conds.append(f"{lang_score_sql(text, lang)} >= {lang_score_sql(text, later)}")
        parts.append(f"when {' and '.join(conds)} then '{lang}'")
    return f"(case {' '.join(parts)} else '{UNKNOWN_LANG}' end)"


def langid_margin_expr(text: Column) -> Column:
    """Prediction confidence: top1 − top2 marker score.

    Pipelines threshold on the classifier margin before trusting a
    language route (fastText's prob gap analogue). Second max over the
    fixed 4-score set via the pairwise-min identity
    ``max_{i<j} min(s_i, s_j)`` — no sort, stays a scalar expression.
    """
    from .text import let_expr

    def body(sc: Column) -> Column:
        s = [F.element_at(sc, i + 1) for i in range(len(LANG_ORDER))]
        top1 = F.greatest(*s)
        pair_mins = [
            F.least(s[i], s[j])
            for i in range(len(s)) for j in range(i + 1, len(s))
        ]
        return top1 - F.greatest(*pair_mins)

    return let_expr(_scores_array_expr(text), body)


def langid_margin_sql(text: str) -> str:
    scores = [lang_score_sql(text, lang) for lang in LANG_ORDER]
    top1 = f"greatest({', '.join(scores)})"
    pair_mins = ", ".join(
        f"least({scores[i]}, {scores[j]})"
        for i in range(len(scores)) for j in range(i + 1, len(scores))
    )
    return f"({top1} - greatest({pair_mins}))"


# ---------------------------------------------------------------------------
# vectorized UDF path (fastText-shaped)
# ---------------------------------------------------------------------------

_MODEL_CACHE: dict[str, dict[str, int]] = {}


def _get_model() -> dict[str, int]:
    """Lazy per-worker model init (stands in for fasttext.load_model).

    One flat dict token → language index: scoring is a single pass over
    the tokens with one O(1) lookup each (marker sets are disjoint).
    """
    model = _MODEL_CACHE.get("langid")
    if model is None:
        model = {
            m: i for i, lang in enumerate(LANG_ORDER) for m in LANG_MARKERS[lang]
        }
        _MODEL_CACHE["langid"] = model
    return model


def _predict_series(s: pd.Series) -> pd.Series:
    """Batch scoring: one dict lookup per token, single pass.

    Measured faster than both the 4-pass frozenset loop and the
    explode+isin+groupby pandas "vectorization" at realistic doc
    lengths — with a real fastText model this whole body becomes
    ``model.predict(s.tolist())``.
    """
    token_lang = _get_model()
    n_langs = len(LANG_ORDER)
    get = token_lang.get

    def predict(text: str | None) -> str | None:
        if text is None:
            return None
        scores = [0] * n_langs
        for t in text.lower().split():
            i = get(t)
            if i is not None:
                scores[i] += 1
        best_lang, best_score = UNKNOWN_LANG, 0
        for i in range(n_langs):
            if scores[i] > best_score:
                best_lang, best_score = LANG_ORDER[i], scores[i]
        return best_lang

    return s.map(predict)


def langid_pandas_udf():
    @pandas_udf("string")
    def langid_udf(s: pd.Series) -> pd.Series:
        return _predict_series(s)

    return langid_udf
