"""The scoring engine vs the independent pandas oracle (the reference's
cross-input-object agreement tests,
/root/reference/tests/testthat/test_sentiment_computation.R:107-132)."""

import numpy as np
import pandas as pd
import pytest

from sentometrics_spark.config import HOWS_WITHIN
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf, score_language_batch

from tests import oracle as orc

KEY = ["url", "lexicon", "feature"]


def _cmp(spark_df, oracle_pdf, atol=1e-12):
    got = (
        spark_df.toPandas()[KEY + ["word_count", "score"]]
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    exp = (
        oracle_pdf[KEY + ["word_count", "score"]].sort_values(KEY).reset_index(drop=True)
    )
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    pd.testing.assert_frame_equal(
        got[KEY], exp[KEY], check_dtype=False
    )
    np.testing.assert_array_equal(got["word_count"], exp["word_count"])
    np.testing.assert_allclose(got["score"], exp["score"], atol=atol, rtol=1e-9)


@pytest.fixture(scope="module")
def no_valence(lexicons):
    return Lexicons(lex=lexicons.lex)


@pytest.mark.parametrize("how", HOWS_WITHIN)
def test_udf_unigram_vs_oracle(pages, pages_pdf, no_valence, how):
    got = compute_sentiment_udf(pages, no_valence, how, mode="unigram")
    exp = orc.oracle_sentiment(pages_pdf, no_valence, how, mode="unigram")
    _cmp(got, exp)


@pytest.mark.parametrize("how", ["counts", "proportional", "UShaped", "TFIDF"])
def test_udf_bigram_vs_oracle(pages, pages_pdf, lexicons, how):
    got = compute_sentiment_udf(pages, lexicons, how, mode="bigram")
    exp = orc.oracle_sentiment(pages_pdf, lexicons, how, mode="bigram")
    _cmp(got, exp)


@pytest.mark.parametrize("how", ["counts", "proportional", "proportionalPol", "inverseExponential"])
def test_udf_cluster_vs_oracle(pages, pages_pdf, lexicons, how):
    got = compute_sentiment_udf(pages, lexicons, how, mode="cluster")
    exp = orc.oracle_sentiment(pages_pdf, lexicons, how, mode="cluster")
    _cmp(got, exp)


def test_split_pos_neg_sign_invariant(pages, lexicons):
    """POS sub-lexicon scores >= 0, NEG <= 0
    (/root/reference/tests/testthat/test_sentiment_computation.R:110-111)."""
    split = Lexicons(lex=lexicons.lex).split_pos_neg()
    got = compute_sentiment_udf(pages, split, "counts", mode="unigram").toPandas()
    pos = got[got["lexicon"].str.endswith("_POS")]["score"]
    neg = got[got["lexicon"].str.endswith("_NEG")]["score"]
    assert (pos >= 0).all()
    assert (neg <= 0).all()


def test_cluster_impact_hand_computed():
    """Hand-built cluster cases pinning compute_cluster_impact
    (/root/reference/src/utils.h:184-191)."""
    lex = Lexicons(lex={"en": {"L": {"fast": 1.0}}}, valence={"en": {"a": (-1.0, 1), "the": (1.5, 2), "data": (0.5, 3)}})
    pack = lex.pack("en")

    def score(tokens):
        _, s = score_language_batch([tokens], pack, "counts", "cluster")
        return s[0, 0]

    # lone hit: impact 1
    assert score(["x", "fast", "x"]) == pytest.approx(1.0)
    # one negator: impact -1
    assert score(["a", "fast"]) == pytest.approx(-1.0)
    # one amplifier: 1 + 0.8
    assert score(["the", "fast"]) == pytest.approx(1.8)
    # amplifier + negator: negation flips, amp becomes deamp: -(1 - 0.8)
    assert score(["a", "the", "fast"]) == pytest.approx(-0.2)
    # two negators cancel
    assert score(["a", "a", "fast"]) == pytest.approx(1.0)
    # deamplifier: 1 - 0.8
    assert score(["data", "fast"]) == pytest.approx(0.2)
    # two deamplifiers: max(0.8*(0-2), -1) = -1 -> 0
    assert score(["data", "data", "fast"]) == pytest.approx(0.0)
    # window: negator 5 positions before is outside nB=4
    assert score(["a", "x", "x", "x", "x", "fast"]) == pytest.approx(1.0)
    # negator after hit within nA=2
    assert score(["fast", "a"]) == pytest.approx(-1.0)
    assert score(["fast", "x", "a"]) == pytest.approx(-1.0)
    assert score(["fast", "x", "x", "a"]) == pytest.approx(1.0)


def test_cluster_nonoverlap():
    """Second hit inside the first cluster's window is scored but never
    becomes a cluster center (SentimentScorerClusters.h:89-90)."""
    lex = Lexicons(lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}}, valence={"en": {"a": (-1.0, 1)}})
    pack = lex.pack("en")
    # 'slow' at j+1 is inside fast's window -> scored with shifter 1;
    # the negator before 'fast' flips only 'fast'.
    _, s = score_language_batch([["a", "fast", "slow"]], pack, "counts", "cluster")
    assert s[0, 0] == pytest.approx(-1.0 + (-2.0))


def test_bigram_shifter_hand_computed():
    lex = Lexicons(lex={"en": {"L": {"fast": 1.0}}}, valence={"en": {"a": (-1.0, 1), "the": (2.0, 2)}})
    pack = lex.pack("en")

    def score(tokens):
        _, s = score_language_batch([tokens], pack, "counts", "bigram")
        return s[0, 0]

    assert score(["a", "fast"]) == pytest.approx(-1.0)
    assert score(["the", "fast"]) == pytest.approx(2.0)
    assert score(["x", "fast"]) == pytest.approx(1.0)
    assert score(["fast"]) == pytest.approx(1.0)
    # shifter two positions back does not apply
    assert score(["a", "x", "fast"]) == pytest.approx(1.0)


def test_multi_language_factors(pages, lexicons):
    """Per-language lexicons: identical text in different languages scores
    proportionally to LANG_FACTOR (C8 semantics)."""
    got = compute_sentiment_udf(pages, lexicons, "counts", mode="unigram").toPandas()
    assert set(got["lang"].unique()) <= {"en", "fr", "de", "es", "zh"}
    assert len(got) > 0
