"""Hour-level partial sums must compose into the day aggregation exactly.

Skew is handled by shipping partial sums (wsum, wden) and re-aggregating
them, so an hour tier rolled up to day must equal a direct day pass."""

import numpy as np
import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import base_tier, rollup
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def sent(pages, lexicons):
    return compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "proportional", mode="unigram").cache()


def test_salted_partials_compose(sent):
    hour = base_tier(sent, how="proportional", by="hour")
    day = rollup(hour, "day").toPandas().sort_values(KEY).reset_index(drop=True)
    direct = (
        aggregate_docs(sent, by="day", how="proportional", keep_partials=False)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(day) == len(direct)
    np.testing.assert_allclose(
        day["value"].to_numpy(), direct["value"].to_numpy(), atol=1e-12, rtol=1e-9
    )
