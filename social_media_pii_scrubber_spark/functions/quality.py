"""Gopher/C4-style quality heuristics and keep rules as column expressions.

Each heuristic formula is written once per engine, the PySpark Column
(Catalyst codegen, zero Python in the hot path) next to its DuckDB SQL
twin (the correctness oracle): ``word_heuristics[_sql]`` over a word
array and ``line_heuristics[_sql]`` over a line array, both passed in
by the caller so a composite keep splits each row once. Each keep rule
is one ``(heuristic, lo, hi)`` row of ``KEEP_RULES`` /
``REPETITION_RULES``; ``passes`` renders a row for either engine and
``keep_of`` folds a table into one conjunction, so the keep gates, the
flagship's keep column and the audit's drop counts read the same rows.

Reference lineage: the reference's only quality predicate is the
blank-after-scrub filter (SMParser/smparsers.py:262); the heuristic
bank generalizes that to web-scale quality filtering (doc length,
symbol ratio, stop-word fraction, repetition — the Gopher/C4 rule
families named in BASELINE.json north_star).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import let_expr

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

# repetition-family thresholds (Gopher-flavored); a separate table so
# the flagship keep decision (and its goldens) stays stable
MAX_DUP_LINE_FRACTION = 0.30
MAX_TOP_BIGRAM_FRACTION = 0.20
MAX_ELLIPSIS_LINE_FRACTION = 0.30
MAX_BULLET_LINE_FRACTION = 0.90

# (heuristic, lo, hi): a row keeps a page iff lo <= value <= hi
KEEP_RULES = (
    ("n_words", MIN_WORDS, MAX_WORDS),
    ("symbol_ratio", None, MAX_SYMBOL_RATIO),
    ("stopword_fraction", MIN_STOPWORD_FRACTION, None),
    ("distinct_ratio", MIN_DISTINCT_RATIO, None),
    ("mean_word_len", MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN),
)
REPETITION_RULES = (
    ("dup_line_fraction", None, MAX_DUP_LINE_FRACTION),
    ("top_bigram_fraction", None, MAX_TOP_BIGRAM_FRACTION),
    ("ellipsis_line_fraction", None, MAX_ELLIPSIS_LINE_FRACTION),
    ("bullet_line_fraction", None, MAX_BULLET_LINE_FRACTION),
)


def passes(value, lo, hi):
    """One rules row as a predicate: a Column for a Column value, SQL
    text for a SQL string value."""
    if isinstance(value, str):
        if lo is None:
            return f"{value} <= {hi}"
        if hi is None:
            return f"{value} >= {lo}"
        return f"{value} between {lo} and {hi}"
    if lo is None:
        return value <= hi
    if hi is None:
        return value >= lo
    return value.between(lo, hi)


def keep_of(values: dict, rules=KEEP_RULES):
    """Conjunction of ``rules`` in table order over ``values``
    (heuristic → Column, or heuristic → SQL text)."""
    tests = [passes(values[h], lo, hi) for h, lo, hi in rules]
    if isinstance(tests[0], str):
        return f"({' and '.join(tests)})"
    return reduce(operator.and_, tests)


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
# keep-rule heuristics over a word array
# ---------------------------------------------------------------------------

def word_heuristics(text: Column, w: Column) -> dict[str, Column]:
    """The five ``KEEP_RULES`` values of ``text`` over its word array
    ``w`` (``words_expr(text)`` or a column/lambda slot holding it).

    mean_word_len: chars per whitespace token; symbol_ratio: fraction
    of non-[A-Za-z0-9 ] characters; distinct_ratio: distinct-token
    ratio (low values flag boilerplate repetition)."""
    n = F.size(w)
    nz = F.nullif(n, F.lit(0))
    return {
        "n_words": n,
        "mean_word_len": F.round(
            (F.length(F.regexp_replace(F.trim(text), r"\s+", "")) / nz)
            .cast("double"), 6),
        "symbol_ratio": F.round(
            F.length(F.regexp_replace(text, "[A-Za-z0-9 ]", "")).cast("double")
            / F.nullif(F.length(text), F.lit(0)), 6),
        "distinct_ratio": F.round(
            F.size(F.array_distinct(w)).cast("double") / nz, 6),
        "stopword_fraction": F.round(
            F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
            / nz, 6),
    }


def word_heuristics_sql(text: str, w: str) -> dict[str, str]:
    nz = f"nullif(len({w}), 0)"
    return {
        "n_words": f"len({w})",
        "mean_word_len": (
            f"round(length(regexp_replace(trim({text}), '\\s+', '', 'g'))"
            f" / {nz}, 6)"),
        "symbol_ratio": (
            f"round(length(regexp_replace({text}, '[A-Za-z0-9 ]', '', 'g'))"
            f" / nullif(length({text}), 0), 6)"),
        "distinct_ratio": f"round(len(list_distinct({w})) / {nz}, 6)",
        "stopword_fraction": (
            f"round(len(list_filter({w}, x -> x in "
            f"({_sql_quote_list(STOPWORDS)}))) / {nz}, 6)"),
    }


def n_chars_expr(text: Column) -> Column:
    return F.length(text)


def n_chars_sql(text: str) -> str:
    return f"length({text})"


def n_words_expr(text: Column) -> Column:
    return word_heuristics(text, words_expr(text))["n_words"]


def n_words_sql(text: str) -> str:
    return word_heuristics_sql(text, words_sql(text))["n_words"]


def mean_word_len_expr(text: Column) -> Column:
    return word_heuristics(text, words_expr(text))["mean_word_len"]


def mean_word_len_sql(text: str) -> str:
    return word_heuristics_sql(text, words_sql(text))["mean_word_len"]


def symbol_ratio_expr(text: Column) -> Column:
    return word_heuristics(text, words_expr(text))["symbol_ratio"]


def symbol_ratio_sql(text: str) -> str:
    return word_heuristics_sql(text, words_sql(text))["symbol_ratio"]


def distinct_ratio_expr(text: Column) -> Column:
    return word_heuristics(text, words_expr(text))["distinct_ratio"]


def distinct_ratio_sql(text: str) -> str:
    return word_heuristics_sql(text, words_sql(text))["distinct_ratio"]


def stopword_fraction_expr(text: Column) -> Column:
    return word_heuristics(text, words_expr(text))["stopword_fraction"]


def stopword_fraction_sql(text: str) -> str:
    return word_heuristics_sql(text, words_sql(text))["stopword_fraction"]


# ---------------------------------------------------------------------------
# Gopher repetition family + C4 line-shape rules
# ---------------------------------------------------------------------------

def lines_expr(text: Column) -> Column:
    return F.split(text, "\n")


def lines_sql(text: str) -> str:
    return f"string_split({text}, chr(10))"


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


def line_heuristics(text: Column, ls: Column) -> dict[str, Column]:
    """The four ``REPETITION_RULES`` values of ``text`` over its line
    array ``ls``: Gopher's fraction of lines repeating an earlier line
    and top-bigram fraction, C4's fractions of lines ending in an
    ellipsis and of bullet/numbered-list lines."""
    nl = F.nullif(F.size(ls), F.lit(0))

    def line_frac(pattern: str) -> Column:
        return F.round(
            F.size(F.filter(ls, lambda l: l.rlike(pattern))).cast("double")
            / nl, 6)

    return {
        "dup_line_fraction": F.round(
            (F.lit(1.0) - F.size(F.array_distinct(ls)) / nl)
            .cast("double"), 6),
        "top_bigram_fraction": top_bigram_fraction_expr(text),
        "ellipsis_line_fraction": line_frac(r"\.\.\.\s*$"),
        "bullet_line_fraction": line_frac(r"^\s*([-*]|\d+\.)\s"),
    }


def line_heuristics_sql(text: str, ls: str) -> dict[str, str]:
    nl = f"nullif(len({ls}), 0)"

    def line_frac(pattern: str) -> str:
        return (f"round(len(list_filter({ls}, l -> regexp_matches(l, "
                f"'{pattern}'))) / {nl}, 6)")

    return {
        "dup_line_fraction": f"round(1.0 - len(list_distinct({ls})) / {nl}, 6)",
        "top_bigram_fraction": top_bigram_fraction_sql(text),
        "ellipsis_line_fraction": line_frac(r"\.\.\.\s*$"),
        "bullet_line_fraction": line_frac(r"^\s*([-*]|[0-9]+\.)\s"),
    }


def dup_line_fraction_expr(text: Column) -> Column:
    return line_heuristics(text, lines_expr(text))["dup_line_fraction"]


def dup_line_fraction_sql(text: str) -> str:
    return line_heuristics_sql(text, lines_sql(text))["dup_line_fraction"]


def ellipsis_line_fraction_expr(text: Column) -> Column:
    return line_heuristics(text, lines_expr(text))["ellipsis_line_fraction"]


def ellipsis_line_fraction_sql(text: str) -> str:
    return line_heuristics_sql(text, lines_sql(text))["ellipsis_line_fraction"]


def bullet_line_fraction_expr(text: Column) -> Column:
    return line_heuristics(text, lines_expr(text))["bullet_line_fraction"]


def bullet_line_fraction_sql(text: str) -> str:
    return line_heuristics_sql(text, lines_sql(text))["bullet_line_fraction"]


# ---------------------------------------------------------------------------
# composite keeps
# ---------------------------------------------------------------------------
# r07: the composite keeps let-bind the word / line array and every
# heuristic reads that one slot — codegen CSE does not fully dedupe the
# repeated split trees (measured 2.2 s → 1.8 s / 1M docs for keep_expr).

def keep_expr(text: Column) -> Column:
    """Composite keep/drop decision: ``KEEP_RULES`` over ``text``."""
    return let_expr(words_expr(text),
                    lambda w: keep_of(word_heuristics(text, w)))


def keep_sql(text: str) -> str:
    return keep_of(word_heuristics_sql(text, words_sql(text)))


def repetition_keep_expr(text: Column) -> Column:
    """Composite keep over the repetition/line-shape family:
    ``REPETITION_RULES`` over ``text``."""
    return let_expr(lines_expr(text), lambda ls: keep_of(
        line_heuristics(text, ls), REPETITION_RULES))


def repetition_keep_sql(text: str) -> str:
    return keep_of(line_heuristics_sql(text, lines_sql(text)),
                   REPETITION_RULES)
