"""C2-C4: normalization, tokenization, shingles, word n-grams."""

from __future__ import annotations

from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions.normalize import (
    char_shingles,
    normalize,
    token_set,
    tokenize,
    word_ngrams,
)


def _one(spark, col, value: str):
    df = spark.createDataFrame([(value,)], "s string")
    return df.select(col.alias("out")).collect()[0].out


def test_normalize(spark):
    assert _one(spark, normalize("s"), "  Héllo,  Wörld!! 42 ") == "hello world 42"
    assert _one(spark, normalize("s"), "ACME-CORP (Ltd.)") == "acme corp ltd"
    assert _one(spark, normalize("s"), "")  == ""
    assert _one(spark, normalize("s"), "ñÑ çÇ šŠ") == "nn cc ss"
    assert _one(spark, normalize("s"), None) is None  # NULL in, NULL out


def test_tokenize_and_token_set(spark):
    assert _one(spark, tokenize(normalize("s")), "B a  b A") == ["b", "a", "b", "a"]
    assert _one(spark, token_set(tokenize(normalize("s"))), "b a b a") == ["a", "b"]


def test_char_shingles(spark):
    assert sorted(_one(spark, char_shingles("s", 3), "abcd")) == ["abc", "bcd"]
    # shorter than n -> the string itself
    assert _one(spark, char_shingles("s", 3), "ab") == ["ab"]
    # distinct
    assert sorted(_one(spark, char_shingles("s", 2), "aaa")) == ["aa"]


def test_word_ngrams(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "t array<string>")
    got = df.select(word_ngrams("t", 2).alias("g")).collect()[0].g
    assert got == ["a b", "b c"]
    df1 = spark.createDataFrame([(["a"],)], "t array<string>")
    assert df1.select(word_ngrams("t", 2).alias("g")).collect()[0].g == ["a"]


def test_normalize_properties_random_corpus(spark):
    """Seeded randomized property sweep, vectorized in one pass:
    normalize is idempotent; tokens of a normalized string are nonempty and
    alphanumeric; word_ngrams emits exactly max(len-n+1, 0<len -> 1, 0 -> 0)
    grams; token-set Levenshtein is symmetric and in [0, 1]."""
    import random

    from pyspark.sql import functions as F

    from nlp_entity_linking_spark.functions.normalize import (
        normalize,
        token_set,
        tokenize,
        word_ngrams,
    )
    from nlp_entity_linking_spark.functions.similarity import token_set_lev_str

    rng = random.Random(42)
    alphabet = "abcXYZ 123 éñü .,!?-_()# \t%$"
    rows = [
        (
            i,
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))),
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "i long, s string, t string")
    n = normalize("s")
    toks = tokenize(n)
    ts_s = F.concat_ws(" ", token_set(toks))
    ts_t = F.concat_ws(" ", token_set(tokenize(normalize("t"))))
    checks = df.select(
        (normalize(n) == n).alias("idem"),
        (
            F.size(F.filter(toks, lambda x: x.rlike("^[a-z0-9]+$")))
            == F.size(toks)
        ).alias("toks_clean"),
        (
            F.size(word_ngrams(toks, 3))
            == F.when(F.size(toks) == 0, 0)
            .when(F.size(toks) < 3, 1)
            .otherwise(F.size(toks) - 2)
        ).alias("gram_count"),
        (
            F.round(token_set_lev_str(ts_s, ts_t), 9)
            == F.round(token_set_lev_str(ts_t, ts_s), 9)
        ).alias("tsl_sym"),
        token_set_lev_str(ts_s, ts_t).between(0.0, 1.0).alias("tsl_range"),
    )
    bad = checks.filter(
        ~F.col("idem")
        | ~F.col("toks_clean")
        | ~F.col("gram_count")
        | ~F.col("tsl_sym")
        | ~F.col("tsl_range")
    ).count()
    assert bad == 0


def test_normalize_split_form_equals_regex_form(spark):
    """r8: normalize() is implemented as split-on-separator-runs + rejoin
    (18x faster than RegExpReplace); it must stay VALUE-identical to the
    spec's literal two-pass regexp_replace form (the DuckDB oracle mirror)
    on every input shape — unicode, empties, pure-separator strings,
    leading/trailing/multiple separators."""
    import random

    from pyspark.sql import functions as F

    from nlp_entity_linking_spark.functions.normalize import fold_diacritics

    def spec_form(c):
        c = F.lower(fold_diacritics(c))
        c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
        c = F.regexp_replace(c, " +", " ")
        return F.trim(c)

    rng = random.Random(11)
    alphabet = "aB9 é-_.!\t\n ß漢🙂"
    rows = ["", " ", "!!", "  a  ", "a-b_c", "É é", "\x00nul\x00"]
    rows += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(500)
    ]
    df = spark.createDataFrame([(s,) for s in rows], "s string")
    bad = df.select(
        normalize("s").alias("new"), spec_form(F.col("s")).alias("old")
    ).filter(
        F.col("new") != F.col("old")
    ).count()
    assert bad == 0
