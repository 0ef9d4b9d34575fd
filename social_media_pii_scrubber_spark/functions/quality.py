"""Gopher/C4-style quality heuristics as pure column expressions.

Each heuristic is defined ONCE and rendered twice: as a PySpark Column
(Catalyst whole-stage codegen — zero Python in the hot path, per the
north star) and as the equivalent DuckDB SQL (the correctness oracle).
Keeping both renderers next to each other prevents semantic drift.

Reference lineage: the reference's only quality predicate is the
blank-after-scrub filter (/root/reference/SMParser/smparsers.py:262);
the heuristic bank generalizes that to web-scale quality filtering
(doc length, symbol ratio, stop-word fraction, repetition — the
Gopher/C4 rule families named in BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# English stopword slice used by the stopword-fraction heuristic.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
)

# keep/drop thresholds (deterministic; calibrated on the synthetic corpus
# so both classes are populated — see tests/test_quality.py)
MIN_WORDS = 20
MAX_WORDS = 100_000
MAX_SYMBOL_RATIO = 0.10
MIN_STOPWORD_FRACTION = 0.02
MIN_DISTINCT_RATIO = 0.50
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0


def _sql_quote_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# word tokenization — identical split semantics in both engines
# ---------------------------------------------------------------------------

def words_expr(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def words_sql(text: str) -> str:
    return f"regexp_split_to_array(trim(lower({text})), '\\s+')"


# ---------------------------------------------------------------------------
# heuristic columns
# ---------------------------------------------------------------------------

def n_chars_expr(text: Column) -> Column:
    return F.length(text)


def n_chars_sql(text: str) -> str:
    return f"length({text})"


def n_words_expr(text: Column) -> Column:
    return F.size(words_expr(text))


def n_words_sql(text: str) -> str:
    return f"len({words_sql(text)})"


def mean_word_len_expr(text: Column) -> Column:
    """Average token length (chars/word over whitespace-tokenized text)."""
    return F.round(
        (F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
         / F.nullif(n_words_expr(text), F.lit(0))).cast("double"),
        6,
    )


def mean_word_len_sql(text: str) -> str:
    return (
        f"round(length(regexp_replace(trim({text}), '\\s+', '', 'g'))"
        f" / nullif({n_words_sql(text)}, 0), 6)"
    )


def symbol_ratio_expr(text: Column) -> Column:
    """Fraction of non-[A-Za-z0-9 ] characters."""
    stripped = F.regexp_replace(text, "[A-Za-z0-9 ]", "")
    return F.round(
        F.length(stripped).cast("double") / F.nullif(F.length(text), F.lit(0)), 6
    )


def symbol_ratio_sql(text: str) -> str:
    return (
        f"round(length(regexp_replace({text}, '[A-Za-z0-9 ]', '', 'g'))"
        f" / nullif(length({text}), 0), 6)"
    )


def distinct_ratio_expr(text: Column) -> Column:
    """Distinct-token ratio — low values flag boilerplate repetition."""
    w = words_expr(text)
    return F.round(
        F.size(F.array_distinct(w)).cast("double") / F.nullif(F.size(w), F.lit(0)), 6
    )


def distinct_ratio_sql(text: str) -> str:
    w = words_sql(text)
    return f"round(len(list_distinct({w})) / nullif(len({w}), 0), 6)"


def stopword_fraction_expr(text: Column) -> Column:
    w = words_expr(text)
    hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return F.round(hits.cast("double") / F.nullif(F.size(w), F.lit(0)), 6)


def stopword_fraction_sql(text: str) -> str:
    w = words_sql(text)
    inlist = _sql_quote_list(STOPWORDS)
    return (
        f"round(len(list_filter({w}, x -> x in ({inlist})))"
        f" / nullif(len({w}), 0), 6)"
    )


# ---------------------------------------------------------------------------
# Gopher repetition family + C4 line-shape rules
# ---------------------------------------------------------------------------

def lines_expr(text: Column) -> Column:
    return F.split(text, "\n")


def lines_sql(text: str) -> str:
    return f"string_split({text}, chr(10))"


def dup_line_fraction_expr(text: Column) -> Column:
    """Gopher: fraction of lines that repeat an earlier line."""
    ls = lines_expr(text)
    return F.round(
        (F.lit(1.0) - F.size(F.array_distinct(ls))
         / F.nullif(F.size(ls), F.lit(0))).cast("double"),
        6,
    )


def dup_line_fraction_sql(text: str) -> str:
    ls = lines_sql(text)
    return f"round(1.0 - len(list_distinct({ls})) / nullif(len({ls}), 0), 6)"


def top_bigram_fraction_expr(text: Column) -> Column:
    """Gopher: fraction of tokens covered by the MOST FREQUENT bigram
    (token-count flavor of Gopher's top-2-gram character fraction).

    Single pass per row: sort the bigram array once, then one
    ``aggregate`` fold computes the longest equal-run. A naive
    distinct×filter HOF nesting re-inlines (and re-evaluates) the bigram
    construction per distinct element — measured 20× slower — because
    interpreted HOFs have no common-subexpression reuse.

    r07: the words array is let-bound — the old form referenced
    ``words_expr(text)`` four times (zip_with's two arguments, the
    slice length, the denominator) and codegen CSE does not dedupe the
    repeated split(trim(lower)) trees, so every call paid the
    tokenization for four references plus the n>=2 guard (~5×). The
    bound slot makes it once; arithmetic is unchanged, values
    bit-identical to the SQL twin.
    """
    from .text import let_expr

    def body(w: Column) -> Column:
        n = F.size(w)
        # zip_with(w, w[2:]) builds bigrams in O(words): the former
        # transform(sequence, i -> element_at(w, i)...) form re-evaluated
        # the captured words_expr per element — O(words²) (HOF bodies get
        # no CSE; see functions/text.py let_expr). zip_with pads the
        # shorter side with null; the trailing (w_n, null) concat is null
        # and filtered out.
        bigrams = F.array_sort(F.filter(
            F.zip_with(w, F.slice(w, 2, F.greatest(n, F.lit(1))),
                       lambda a, b: F.concat(a, F.lit(" "), b)),
            lambda x: x.isNotNull(),
        ))
        zero = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"), run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        top = F.aggregate(bigrams, zero, step, lambda acc: acc["best"])
        frac = F.round((top * 2.0 / n).cast("double"), 6)
        return F.when(n >= 2, frac).otherwise(F.lit(0.0))

    return let_expr(words_expr(text), body)


def top_bigram_fraction_sql(text: str) -> str:
    # correlated scalar subquery: the bigram list is built ONCE, unnested,
    # and the max group count taken — DuckDB 1.0's list_reduce has no
    # initial-value form, so the fold can't be mirrored literally.
    w = words_sql(text)
    bigrams = (
        f"list_transform(range(1, greatest(len({w}) - 1, 0) + 1), "
        f"i -> {w}[i] || ' ' || {w}[i + 1])"
    )
    top = (
        f"(select max(c) from (select count(*) as c from unnest({bigrams}) "
        f"as u(b) group by b))"
    )
    return (
        f"(case when len({w}) >= 2 "
        f"then round({top} * 2.0 / len({w}), 6) else 0.0 end)"
    )


def ellipsis_line_fraction_expr(text: Column) -> Column:
    """C4: fraction of lines ending in an ellipsis."""
    ls = lines_expr(text)
    hits = F.size(F.filter(ls, lambda l: l.rlike(r"\.\.\.\s*$")))
    return F.round(hits.cast("double") / F.nullif(F.size(ls), F.lit(0)), 6)


def ellipsis_line_fraction_sql(text: str) -> str:
    ls = lines_sql(text)
    return (
        f"round(len(list_filter({ls}, l -> regexp_matches(l, '\\.\\.\\.\\s*$')))"
        f" / nullif(len({ls}), 0), 6)"
    )


def bullet_line_fraction_expr(text: Column) -> Column:
    """C4: fraction of lines that are bullet/numbered-list items."""
    ls = lines_expr(text)
    hits = F.size(F.filter(ls, lambda l: l.rlike(r"^\s*([-*]|\d+\.)\s")))
    return F.round(hits.cast("double") / F.nullif(F.size(ls), F.lit(0)), 6)


def bullet_line_fraction_sql(text: str) -> str:
    ls = lines_sql(text)
    return (
        f"round(len(list_filter({ls}, "
        f"l -> regexp_matches(l, '^\\s*([-*]|[0-9]+\\.)\\s')))"
        f" / nullif(len({ls}), 0), 6)"
    )


# repetition-family thresholds (Gopher-flavored); exposed as a separate
# composite so the flagship keep decision (and its goldens) stays stable
MAX_DUP_LINE_FRACTION = 0.30
MAX_TOP_BIGRAM_FRACTION = 0.20
MAX_ELLIPSIS_LINE_FRACTION = 0.30
MAX_BULLET_LINE_FRACTION = 0.90


def repetition_keep_expr(text: Column) -> Column:
    """Composite keep over the repetition/line-shape family.

    r07: the lines array is let-bound and shared by the three
    line-shape heuristics (same finding as keep_expr — codegen CSE
    does not fully dedupe the repeated split(text, '\\n') trees); each
    heuristic computes the identical arithmetic over the shared array,
    so results match the SQL twin bit-for-bit."""
    from .text import let_expr

    def body(ls: Column) -> Column:
        nl = F.nullif(F.size(ls), F.lit(0))
        dup = F.round(
            (F.lit(1.0) - F.size(F.array_distinct(ls)) / nl).cast("double"), 6)
        ell = F.round(
            F.size(F.filter(ls, lambda l: l.rlike(r"\.\.\.\s*$")))
            .cast("double") / nl, 6)
        bul = F.round(
            F.size(F.filter(ls, lambda l: l.rlike(r"^\s*([-*]|\d+\.)\s")))
            .cast("double") / nl, 6)
        return (
            (dup <= MAX_DUP_LINE_FRACTION)
            & (top_bigram_fraction_expr(text) <= MAX_TOP_BIGRAM_FRACTION)
            & (ell <= MAX_ELLIPSIS_LINE_FRACTION)
            & (bul <= MAX_BULLET_LINE_FRACTION)
        )

    return let_expr(lines_expr(text), body)


def repetition_keep_sql(text: str) -> str:
    return (
        f"({dup_line_fraction_sql(text)} <= {MAX_DUP_LINE_FRACTION}"
        f" and {top_bigram_fraction_sql(text)} <= {MAX_TOP_BIGRAM_FRACTION}"
        f" and {ellipsis_line_fraction_sql(text)} <= {MAX_ELLIPSIS_LINE_FRACTION}"
        f" and {bullet_line_fraction_sql(text)} <= {MAX_BULLET_LINE_FRACTION})"
    )


def keep_expr(text: Column) -> Column:
    """Composite keep/drop decision from the heuristic bank.

    r07: the word array is let-bound and shared by the four
    token-based heuristics instead of re-rendered per heuristic —
    codegen CSE does not fully deduplicate the repeated
    split(trim(lower(text))) trees (measured 2.2 s → 1.8 s / 1M docs).
    Arithmetic is unchanged (each heuristic computes the identical
    expression over the shared array), so results are bit-identical
    to the SQL twin."""
    from .text import let_expr

    def body(w: Column) -> Column:
        n = F.size(w)
        stopfrac = F.round(
            F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
            / F.nullif(n, F.lit(0)), 6)
        distinct = F.round(
            F.size(F.array_distinct(w)).cast("double")
            / F.nullif(n, F.lit(0)), 6)
        mwl = F.round(
            (F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
             / F.nullif(n, F.lit(0))).cast("double"), 6)
        return (
            n.between(MIN_WORDS, MAX_WORDS)
            & (symbol_ratio_expr(text) <= MAX_SYMBOL_RATIO)
            & (stopfrac >= MIN_STOPWORD_FRACTION)
            & (distinct >= MIN_DISTINCT_RATIO)
            & mwl.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        )

    return let_expr(words_expr(text), body)


def keep_sql(text: str) -> str:
    return (
        f"({n_words_sql(text)} between {MIN_WORDS} and {MAX_WORDS}"
        f" and {symbol_ratio_sql(text)} <= {MAX_SYMBOL_RATIO}"
        f" and {stopword_fraction_sql(text)} >= {MIN_STOPWORD_FRACTION}"
        f" and {distinct_ratio_sql(text)} >= {MIN_DISTINCT_RATIO}"
        f" and {mean_word_len_sql(text)} between {MIN_MEAN_WORD_LEN} and {MAX_MEAN_WORD_LEN})"
    )
