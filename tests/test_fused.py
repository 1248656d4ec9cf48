"""Fused scoring+pre-aggregation must equal the two-stage pipeline."""

import numpy as np
import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import base_tier, rollup
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.fused import score_to_bucket_partials
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def lex(lexicons):
    return Lexicons(lex=lexicons.lex)


def _assert_same_tier(fused, direct):
    a = fused.select(*KEY, "value", "n_docs_in", "n_docs").toPandas().sort_values(KEY).reset_index(drop=True)
    b = direct.select(*KEY, "value", "n_docs_in", "n_docs").toPandas().sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_array_equal(a["n_docs"], b["n_docs"])
    np.testing.assert_array_equal(a["n_docs_in"], b["n_docs_in"])
    np.testing.assert_allclose(a["value"], b["value"], atol=1e-12, rtol=1e-9)


@pytest.mark.parametrize("how_docs", ["equal_weight", "proportional", "inverseProportional"])
@pytest.mark.parametrize("ignore_zeros", [True, False])
def test_fused_equals_two_stage(pages, lex, how_docs, ignore_zeros):
    fused = rollup(
        score_to_bucket_partials(
            pages, lex, "proportional", how_docs, by="hour", do_ignore_zeros=ignore_zeros
        ),
        "hour",
    )
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram")
    direct = aggregate_docs(
        sent, by="hour", how=how_docs, do_ignore_zeros=ignore_zeros, keep_partials=True
    )
    _assert_same_tier(fused, direct)


def test_fused_partials_feed_tiers(pages, lex):
    hour = rollup(
        score_to_bucket_partials(pages, lex, "proportional", "proportional", by="hour"), "hour"
    )
    day = rollup(hour, "day")
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram")
    direct = aggregate_docs(sent, by="day", how="proportional", keep_partials=False)
    a = day.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    b = direct.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    np.testing.assert_allclose(a["value"], b["value"], atol=1e-12, rtol=1e-9)


def test_fused_rejects_bucket_relative(pages, lex):
    with pytest.raises(ValueError, match="cannot be fused"):
        score_to_bucket_partials(pages, lex, "proportional", "exponential")


def test_fused_tfidf_equals_two_stage(pages, lex):
    """Fused TFIDF scoring gets the same corpus-level (N, df) stats as the
    UDF engine (regression: the fused path never computed them and failed
    on the executor)."""
    fused = rollup(
        score_to_bucket_partials(pages, lex, "TFIDF", "proportional", by="hour"), "hour"
    )
    sent = compute_sentiment_udf(pages, lex, "TFIDF", mode="unigram")
    direct = rollup(base_tier(sent, "proportional", by="hour"), "hour")
    _assert_same_tier(fused, direct)


def test_fused_rejects_pretokenized_langs_without_tokens(spark):
    """Lexicons that declare a pre-tokenized language cannot be scored from
    raw text: the fused path raises like compute_sentiment_udf instead of
    running the UAX-29 tokenizer over unsegmented Han text."""
    from pyspark.sql import functions as F

    lex = Lexicons(lex={"zh": {"L": {"好": 1.0}}}, pretokenized_langs={"zh"})
    pages = spark.createDataFrame(
        [("u0", "2024-01-01 00:00:00", "市场好", "zh", 1.0)],
        "url string, warc_ts string, text string, lang string, feat_all double",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    with pytest.raises(ValueError, match="tokens_col"):
        score_to_bucket_partials(pages, lex, "counts", "proportional")
