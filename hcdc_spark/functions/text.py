"""Text column helpers shared by the text/dedup operators.

All JVM-side builtins (split/filter/transform/aggregate lambdas compile
into codegen) — no Python UDFs in any hot path. Each helper has an exact
DuckDB rendering so queries built from them stay oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny multilingual stopword sets for the language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "y", "de"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholder
}

STOPWORDS = ("the", "a", "and", "of", "to", "in")

#: BPE-ish tokenizer regex: letter runs, digit runs, punctuation runs.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def words(col: Column | str) -> Column:
    """Non-empty whitespace tokens.
    DuckDB: list_filter(string_split(text, ' '), w -> w <> '')"""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda w: w != "")


def distinct_words(col: Column | str) -> Column:
    """DuckDB: list_distinct(list_filter(string_split(text,' '), …))"""
    return F.array_distinct(words(col))


def word_count(col: Column | str) -> Column:
    return F.size(words(col)).cast("long")


def count_in_set(col: Column | str, vocab: tuple[str, ...]) -> Column:
    """How many tokens fall in `vocab`.
    DuckDB: len(list_filter(words, w -> w IN (...)))"""
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(
        F.filter(words(col), lambda w: F.array_contains(arr, w))
    ).cast("long")


def quality_gate() -> Column:
    """The ingest quality gate over ``text``: at least 5 words and at
    least one stopword (q30's signals as integer predicates). Used by
    q98, the crawl gates (c26, c30) and the crawl benches.
    DuckDB: duck_quality_gate()"""
    return (word_count("text") >= 5) & (count_in_set("text", STOPWORDS) >= 1)


def sum_word_lengths(col: Column | str) -> Column:
    """DuckDB: list_sum(list_transform(words, w -> len(w)))"""
    return F.aggregate(
        F.transform(words(col), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def duck_words(expr: str = "text") -> str:
    return f"list_filter(string_split({expr}, ' '), w -> w <> '')"


def duck_in_set(vocab: tuple[str, ...], words_expr: str) -> str:
    lst = " OR ".join(f"w = '{v}'" for v in vocab)
    return f"len(list_filter({words_expr}, w -> {lst}))"


def duck_quality_gate() -> str:
    """DuckDB rendering of quality_gate()."""
    ws = duck_words("text")
    return f"len({ws}) >= 5 AND {duck_in_set(STOPWORDS, ws)} >= 1"
