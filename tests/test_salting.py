"""Salted two-phase aggregation must equal the plain aggregation exactly."""

import numpy as np
import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs, aggregate_docs_salted
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def sent(pages, lexicons):
    return compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "proportional", mode="unigram").cache()


@pytest.mark.parametrize("how", ["equal_weight", "proportional", "exponential"])
@pytest.mark.parametrize("ignore_zeros", [True, False])
def test_salted_equals_plain(sent, how, ignore_zeros):
    plain = (
        aggregate_docs(sent, by="day", how=how, do_ignore_zeros=ignore_zeros, keep_partials=False)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    salted = (
        aggregate_docs_salted(
            sent, by="day", how=how, do_ignore_zeros=ignore_zeros, n_salts=16, keep_partials=False
        )
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(plain) == len(salted)
    np.testing.assert_allclose(
        plain["value"].to_numpy(), salted["value"].to_numpy(), atol=1e-12, rtol=1e-9
    )


def test_salted_partials_compose(sent):
    from sentometrics_spark.aggregate.tiers import rollup

    hour = aggregate_docs_salted(sent, by="hour", how="proportional")
    day = rollup(hour, "day").toPandas().sort_values(KEY).reset_index(drop=True)
    direct = (
        aggregate_docs(sent, by="day", how="proportional", keep_partials=False)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        day["value"].to_numpy(), direct["value"].to_numpy(), atol=1e-12, rtol=1e-9
    )
