"""The one text kernel: whitespace tokens, word n-grams, sentences and
whitespace normalization.

Every operator that counts words, builds shingles, segments sentences
or collapses whitespace goes through these four functions, so a
tokenizer change reaches every gate at once. All are pure Column
expressions (whole-stage codegen, no UDF) with no session state.

``tokens`` trims with ``F.trim``, which strips spaces only, not the NBSP
that ``cleaning.trim_whitespace`` also strips: the oracles render the
same rule as ``string_split_regex(lower(trim(text)), '\\s+')``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Token separator: any run of whitespace.
_WS = r"\s+"

#: Sentence terminators: a run of ``.``, ``!`` or ``?``.
_SENT_END = r"[.!?]+"


def _space_join(a: Column, b: Column) -> Column:
    return F.concat_ws(" ", a, b)


def tokens(
    text: Column | str, *, lower: bool = True, drop_empty: bool = False
) -> Column:
    """Whitespace tokens of ``text``: trim, optionally lowercase, split
    on ``\\s+``. Without ``drop_empty`` an empty or all-space text gives
    ``[""]`` (one empty token); with it, empty tokens are filtered out."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    toks = F.split(F.lower(t) if lower else t, _WS)
    return F.filter(toks, lambda x: x != "") if drop_empty else toks


def normalize_ws(text: Column | str, *, lower: bool = True) -> Column:
    """``text`` with every whitespace run collapsed to one space and the
    ends trimmed, lowercased first unless ``lower=False``: the key that
    exact and near-duplicate detection compare, and the last step of
    text scrubbing (``lower=False``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c) if lower else c, _WS, " "))


def ngrams(
    toks: Column,
    n: int,
    combine: Callable[[Column, Column], Column] = _space_join,
) -> Column:
    """The ``n``-token windows of the array ``toks``, in order and with
    duplicates, each folded left to right with ``combine`` (default: join
    with one space). A row with fewer than ``n`` tokens gets an empty
    array; a NULL array stays NULL.

    Built as ``zip_with`` over ``n`` shifted slices. Never build windows
    as ``transform`` over an index sequence with ``element_at``: each
    per-index ``element_at`` inside the lambda re-inlines the whole token
    expression, so a document costs O(tokens²) (measured 12× slower for
    the sf0.1 bigram explode, 7.3 s vs 0.5 s, and 28 s vs sub-second for
    the sf0.01 5-gram gate). Callers that reuse the windows in several
    consumers should tokenize into a stored column first (see
    ``dup_ngram_stats``), since each slice references ``toks`` once.
    """
    # clamp, not a when-guard: slice rejects a negative length, and a
    # zero length gives an empty array of the combined element type
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, 1 + k, m), combine)
    return grams


def sentences(text: Column | str) -> Column:
    """Sentence segments of ``text``: split on runs of ``.!?``, trim each
    segment, drop the empty ones. A text without a terminator is one
    sentence."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, _SENT_END), lambda s: F.trim(s)),
        lambda s: s != "",
    )
