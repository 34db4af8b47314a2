"""Surface-form normalization, tokenization and shingling (SURVEY.md C2-C4).

Pure built-in column expressions — JVM-side, whole-stage-codegen'd, zero
Python in the hot path. These are the canonical normalization semantics the
whole engine keys on (blocking keys, token features, dedup hashes), so they
live in one place and are reused by the pipeline, the synthetic-fixture
generator and the oracle queries (which mirror them in ANSI SQL for DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Diacritic fold table for `translate` (covers the perturbations the
# synthetic generator plants plus the common Latin-1 range).
_DIACRITICS_SRC = "áàâäãåéèêëíìîïóòôöõúùûüýÿñçšžÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇŠŽ"
_DIACRITICS_DST = "aaaaaaeeeeiiiiooooouuuuyyncszAAAAAAEEEEIIIIOOOOOUUUUYNCSZ"


def fold_diacritics(col: Column | str) -> Column:
    return F.translate(F.col(col) if isinstance(col, str) else col,
                       _DIACRITICS_SRC, _DIACRITICS_DST)


def normalize(col: Column | str) -> Column:
    """Canonical surface-form normalization (SURVEY.md C2).

    lower -> diacritic fold -> non-alnum to space -> collapse spaces -> trim.
    ANSI-SQL mirror (DuckDB oracle):
        trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ' ', 'g'),
                            ' +', ' ', 'g'))
    (diacritic fold elided in oracles that feed ASCII-only inputs).

    Implementation (r8): split-on-separator-runs + rejoin instead of the
    literal two regexp_replace passes. VALUE-IDENTICAL for every input —
    both forms reduce the string to its maximal [a-z0-9] runs joined by
    single spaces (proved by exceptAll-equality on the 1M-page corpus and
    the property tests) — but Spark's RegExpReplace evaluates ~18x slower
    than the split (measured 16.6s vs 0.9s per 1M ~430-char texts,
    local[32]; RegExpReplace pays a per-row StringBuffer/appendReplacement
    path where split streams the matcher). normalize sits under every
    tokenize/ctx_tokens/norm computation in the records stage, so this one
    expression was ~60% of er_records' wall (OPTIMIZATION_r08.md).

    NULL in, NULL out: array_join propagates a NULL array (concat_ws would
    turn it into ''), and split never yields NULL elements, so non-NULL
    values are unchanged.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(fold_diacritics(c))
    return F.array_join(F.array_remove(F.split(c, "[^a-z0-9]+"), ""), " ")


def tokenize(norm_col: Column | str) -> Column:
    """Whitespace tokens of an already-normalized string (SURVEY.md C3)."""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return F.array_remove(F.split(c, " "), "")


def token_set(tokens_col: Column | str) -> Column:
    """Sorted distinct tokens — the canonical token-set representation."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.array_sort(F.array_distinct(c))


def char_shingles(norm_col: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles of the normalized string (SURVEY.md C4).

    Built-in only: sequence over start offsets + substring inside a lambda —
    stays in whole-stage codegen, no Python. Distinct because minhash is a
    set operation. Strings shorter than n yield the string itself (padded
    semantics keep tiny surfaces block-able).
    """
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    short = F.array(c)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.array_distinct(F.when(F.length(c) < n, short).otherwise(grams))


def word_ngrams(tokens_col: Column | str, n: int = 2) -> Column:
    """Word n-grams over a token array (dedup / fingerprint features).

    Empty token arrays yield an EMPTY gram array (not [""]): two
    empty/punctuation-only docs must not share a gram and score Jaccard 1.0
    — matching the SQL oracle, where 0-token docs produce 0 grams and the
    Jaccard ratio degenerates to NULL. The single whole-string gram fallback
    applies only to 0 < size < n (tiny-but-real surfaces stay block-able).
    """
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return (
        F.when(F.size(c) == 0, F.array().cast("array<string>"))
        .when(F.size(c) < n, F.array(F.concat_ws(" ", c)))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(c) - n),
                lambda i: F.concat_ws(" ", F.slice(c, i + 1, n)),
            )
        )
    )
