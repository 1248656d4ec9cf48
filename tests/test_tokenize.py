"""Tokenizer fidelity (T1/T2): the engine's RE2-pass word tokenizer must
match an independent per-character UAX-29 implementation (uax29_oracle.py)
on punctuated/digit/unicode text, and scoring on such text must match the
naive pandas oracle. Golden cases mirror the reference's tokenizer contract
(stri_split_boundaries word rules with skip_word_none/skip_word_number,
/root/reference/R/sentiment_engines.R:13-30; tested in
/root/reference/tests/testthat/test_sentiment_computation.R:49-132)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sentometrics_spark.scoring.tokenize import (
    split_sentence_strings,
    tokenize_sentences,
    tokenize_to_lists,
)
from tests.uax29_oracle import uax29_word_tokens

GOLDEN = {
    "Don't stop! The U.S.A. is big.": ["don't", "stop", "the", "u.s.a", "is", "big"],
    "e-mail me at 3.14 o'clock": ["e", "mail", "me", "at", "o'clock"],
    "x:y:z and mid·dot hold; trailing: falls": [
        "x:y:z", "and", "mid·dot", "hold", "trailing", "falls"],
    "'quoted' isn't the same as isn’t": ["quoted", "isn't", "the", "same", "as", "isn’t"],
    "naïve café résumé über": ["naïve", "café", "résumé", "über"],
    # ICU rule-status semantics (validated against the reference's golden
    # usnews word counts): a token ending in >=2 digits or mid+digit is
    # status-NUMBER and dropped by skip_word_number ("abc123"), while a
    # single digit right after a letter keeps LETTER status ("abc1").
    "abc123 123abc 123 1,000 12:30 3'5": ["123abc"],
    "abc1 qe2 today1 unemployed38 ing255.72 x1,2": ["abc1", "qe2", "today1"],
    "foo_bar c_c _lead trail_ 1_0": ["foo_bar", "c_c", "_lead", "trail_"],
    "Привет мир! Ελληνικά εδώ.": ["привет", "мир", "ελληνικά", "εδώ"],
    "semi;colon word1,word2 a,b": ["semi", "colon", "word1", "word2", "a", "b"],
    "... !!! ??? ,,,": [],
    "": [],
}


# Scripts WITHOUT inter-word spaces (CJK, Thai): ICU dictionary-segments
# these; this engine keeps each unspaced run as ONE token — a documented
# approximation that is self-consistent for lexicon matching as long as
# lexicon entries use the same convention. RTL scripts and Hangul (spaced)
# segment exactly; symbols/emoji carry no letter and are dropped
# (skip_word_none).
GOLDEN_SCRIPTS = {
    "今日は良い天気 hello world": ["今日は良い天気", "hello", "world"],
    "العربية نص test": ["العربية", "نص", "test"],
    "한국어 단어 mix": ["한국어", "단어", "mix"],
    "🙂 emoji 🎉 here": ["emoji", "here"],
    "ไทยไม่มีช่องว่าง thai": ["ไทยไม่มีช่องว่าง", "thai"],
}


@pytest.mark.parametrize("text,expected", {**GOLDEN, **GOLDEN_SCRIPTS}.items())
def test_golden_tokens(text, expected):
    assert tokenize_to_lists([text])[0] == expected


@pytest.mark.parametrize("text", list(GOLDEN))
def test_engine_matches_uax29_oracle_golden(text):
    assert tokenize_to_lists([text])[0] == uax29_word_tokens(text)


# curated alphabet: everything both implementations claim to cover
_ALPHABET = (
    "abcdefghij ABC ÉÀßçñ λπ ж me 0123456789 .:'’·,;_-!?\"()[]&/ \t\n"
    "x́"  # combining acute attached to a letter
)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=60))
def test_engine_matches_uax29_oracle_random(text):
    assert tokenize_to_lists([text])[0] == uax29_word_tokens(text)


def test_sentence_splits():
    # SB8: '.' + space + lowercase does NOT break; STerm always breaks
    assert split_sentence_strings("Dr. smith left. He ran! it worked.") == [
        "Dr. smith left. ", "He ran! ", "it worked."]
    # closers between terminal and space
    assert split_sentence_strings('He said "stop!" Then left.') == [
        'He said "stop!" ', "Then left."]
    assert split_sentence_strings("No. 5 is here. QED") == [
        "No. ", "5 is here. ", "QED"]


def test_tokenize_sentences_markers_and_skips():
    out = tokenize_sentences("Fast cars, slow roads. The 3rd end!")
    assert out == [["fast", "cars", "c_c", "slow", "roads"], ["the", "3rd", "end"]]


def test_scoring_matches_pandas_oracle_on_punctuated_text(spark):
    """End-to-end: the UDF engine over punctuated/mixed text equals a naive
    per-document python scorer driven by the same token contract."""
    import datetime as dt

    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    lex = Lexicons(lex={"en": {"L": {"good": 1.0, "bad": -1.0, "don't": -0.5, "u.s.a": 2.0}}})
    texts = [
        "Good, very good! The U.S.A. won.",
        "Don't be bad... it's bad-bad.",
        "nothing 123 here; move along.",
        "¡Good! ¿bad? good·bad stays one token",
    ]
    rows = [(f"u{i}", dt.datetime(2024, 1, 1, 9), "en", t, 1.0) for i, t in enumerate(texts)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, feat_x double"
    )
    got = (
        compute_sentiment_udf(pages, lex, "proportional", mode="unigram")
        .filter("feature = 'feat_x'")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    # independent expectation from the per-char oracle tokens
    words = {"good": 1.0, "bad": -1.0, "don't": -0.5, "u.s.a": 2.0}
    exp_scores, exp_wc = [], []
    for t in texts:
        toks = uax29_word_tokens(t)
        exp_wc.append(len(toks))
        exp_scores.append(sum(words.get(w, 0.0) for w in toks) / max(len(toks), 1))
    np.testing.assert_array_equal(got["word_count"], exp_wc)
    np.testing.assert_allclose(got["score"], exp_scores, atol=1e-12)


@pytest.mark.parametrize("how", ["counts", "proportional", "UShaped", "TFIDF", "proportionalPol"])
def test_udf_equals_oracle_on_punctuated_text(spark, monkeypatch, how):
    """Every within-doc how on punctuated/digit/unicode text equals the
    naive pandas oracle (tests/oracle.py) when that oracle tokenizes with
    the independent per-character UAX-29 implementation."""
    import datetime as dt

    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
    from tests import oracle as orc

    monkeypatch.setattr(orc, "tokenize", uax29_word_tokens)
    lex = Lexicons(lex={"en": {"L": {"good": 1.0, "bad": -1.0, "don't": -0.5, "u.s.a": 2.0}}})
    texts = [
        "Good, very good! The U.S.A. won.",
        "Don't be bad... it's bad-bad.",
        "nothing 123 here; move along.",
        "plain good words only",
        "",
        "x:y:z good·bad 1,000 don't—stop",
    ]
    rows = [(f"u{i}", dt.datetime(2024, 1, 1, 9), "en", t, 1.0) for i, t in enumerate(texts)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, feat_x double"
    )
    key = ["url", "lexicon", "feature"]
    e = orc.oracle_sentiment(pages.toPandas(), lex, how, mode="unigram").sort_values(key).reset_index(drop=True)
    u = compute_sentiment_udf(pages, lex, how, mode="unigram").toPandas().sort_values(key).reset_index(drop=True)
    np.testing.assert_array_equal(u["word_count"], e["word_count"])
    np.testing.assert_allclose(u["score"], e["score"], atol=1e-12)
