"""Fused scoring+pre-aggregation must equal the two-stage pipeline."""

import numpy as np
import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import rollup
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.fused import score_to_bucket_partials
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def lex(lexicons):
    return Lexicons(lex=lexicons.lex)


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
    a = fused.select(*KEY, "value", "n_docs_in", "n_docs").toPandas().sort_values(KEY).reset_index(drop=True)
    b = direct.select(*KEY, "value", "n_docs_in", "n_docs").toPandas().sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_array_equal(a["n_docs"], b["n_docs"])
    np.testing.assert_array_equal(a["n_docs_in"], b["n_docs_in"])
    np.testing.assert_allclose(a["value"], b["value"], atol=1e-12, rtol=1e-9)


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
