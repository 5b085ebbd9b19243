"""``functions.text`` is the one definition of whitespace tokens, word
n-grams, sentences and whitespace normalization. Each function must give exactly what the inline
expressions it replaced gave; those expressions are restated here as
the reference."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.functions.text import (  # noqa: E402
    ngrams,
    normalize_ws,
    sentences,
    tokens,
)

TEXTS = [
    "",
    "   ",
    "one",
    "  lead",
    "trail  ",
    "in   ner   runs",
    "\ttab\tsep\t",
    "new\nline\n",
    "\u00a0nbsp\u00a0 word\u00a0",
    "MiXeD Case TEXT",
    "a b",
    "a b c",
    "a b c d e f a b c",
    "a. b!! c?",
    "no terminator here",
    "...",
    None,
]


def _pair(a, b):
    return F.struct(a.alias("w1"), b.alias("w2"))


def _space(a, b):
    return F.concat_ws(" ", a, b)


def _old_tokens(c):
    return F.split(F.lower(F.trim(c)), r"\s+")


def _old_bigrams(t):
    return F.when(F.size(t) < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1), F.slice(t, 2, F.size(t) - 1), _space
        )
    )


def _old_trigrams(t):
    n = F.size(t)
    return F.when(n < 3, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(t, 1, n - 2),
            F.zip_with(F.slice(t, 2, n - 2), F.slice(t, 3, n - 2), _space),
            _space,
        )
    )


def _old_5grams(t):
    m = F.size(t) - 4
    grams = F.slice(t, 1, m)
    for k in range(1, 5):
        grams = F.zip_with(grams, F.slice(t, 1 + k, m), _space)
    return F.when(F.size(t) < 5, F.array().cast("array<string>")).otherwise(
        grams
    )


def _old_normalize_ws(c):
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _old_sentences(c):
    return F.filter(
        F.transform(F.split(c, r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame([(t,) for t in TEXTS], "text string")


def _same(df, new, old):
    rows = df.select("text", new.alias("new"), old.alias("old")).collect()
    assert rows
    bad = [(r["text"], r["new"], r["old"]) for r in rows if r["new"] != r["old"]]
    assert not bad, bad


def test_tokens(texts):
    c = F.col("text")
    _same(texts, tokens(c), _old_tokens(c))
    _same(texts, tokens("text"), _old_tokens(c))
    _same(texts, tokens(c, lower=False), F.split(F.trim(c), r"\s+"))
    _same(
        texts,
        tokens(c, drop_empty=True),
        F.filter(_old_tokens(c), lambda x: x != ""),
    )


def test_tokens_keep_nbsp_and_empty_token(texts):
    """``F.trim`` strips spaces only: an NBSP-edged word keeps its NBSP,
    and an empty text is one empty token unless ``drop_empty``."""
    got = {
        r["text"]: (r["t"], r["d"])
        for r in texts.select(
            "text",
            tokens("text").alias("t"),
            tokens("text", drop_empty=True).alias("d"),
        ).collect()
    }
    assert got[""] == ([""], [])
    assert got["   "] == ([""], [])
    assert got["\u00a0nbsp\u00a0 word\u00a0"][0] == ["\u00a0nbsp\u00a0", "word\u00a0"]
    assert got[None] == (None, None)


def test_normalize_ws(texts):
    c = F.col("text")
    _same(texts, normalize_ws(c), _old_normalize_ws(c))
    _same(texts, normalize_ws("text"), _old_normalize_ws(c))
    _same(
        texts,
        normalize_ws(c, lower=False),
        F.trim(F.regexp_replace(c, r"\s+", " ")),
    )


def test_ngrams(texts):
    c = F.col("text")
    for t in (_old_tokens(c), F.filter(_old_tokens(c), lambda x: x != "")):
        _same(texts, ngrams(t, 2), _old_bigrams(t))
        _same(texts, ngrams(t, 3), _old_trigrams(t))
        _same(texts, ngrams(t, 5), _old_5grams(t))
        _same(texts, ngrams(t, 1), t)
        _same(
            texts,
            F.array_distinct(ngrams(t, 2)),
            F.array_distinct(_old_bigrams(t)),
        )


def test_ngrams_with_struct_combine(texts):
    t = F.filter(_old_tokens(F.col("text")), lambda x: x != "")
    two = texts.where(F.size(t) >= 2)
    old = F.zip_with(
        F.slice(t, 1, F.size(t) - 1), F.slice(t, 2, F.size(t) - 1), _pair
    )
    _same(two, ngrams(t, 2, _pair), old)


def test_ngrams_short_rows_are_empty_string_arrays(texts):
    df = texts.select(ngrams(tokens("text"), 10).alias("g"))
    assert df.schema["g"].dataType.simpleString() == "array<string>"
    assert {
        tuple(r["g"]) if r["g"] is not None else None for r in df.collect()
    } == {(), None}


def test_sentences(texts):
    c = F.col("text")
    _same(texts, sentences(c), _old_sentences(c))
    _same(texts, sentences("text"), _old_sentences(c))
    got = texts.where(F.col("text") == "a. b!! c?").select(
        sentences("text").alias("s")
    ).first()["s"]
    assert got == ["a", "b", "c"]
