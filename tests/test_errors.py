"""Fail-fast error paths (reference parity: too-large lag and missing
language lexicons raise instead of returning empty/partial results)."""

import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.aggregate.time_agg import aggregate_time
from sentometrics_spark.config import TimeKernelSpec
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf


def test_lag_too_large_raises(pages, lexicons):
    sent = compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "counts", mode="unigram")
    m = aggregate_docs(sent, by="month", keep_partials=False).select(
        "bucket_ts", "lexicon", "feature", "value"
    )
    kernels = setup_time_weights((TimeKernelSpec("equal_weight"),), 12)
    with pytest.raises(ValueError, match="too large"):
        aggregate_time(m, kernels, 12)


def test_missing_language_raises_udf(pages):
    en_only = Lexicons(lex={"en": fixture_lexicons().lex["en"]})
    with pytest.raises(ValueError, match="no lexicon found"):
        compute_sentiment_udf(pages, en_only, "counts", mode="unigram")


def test_kernel_spec_param_domains():
    """ctr_agg parameter-domain errors
    (/root/reference/R/sentomeasures_main.R:131-139; mirrored from
    /root/reference/tests/testthat/test_aggregation.R:50-51)."""
    import pytest

    from sentometrics_spark.config import AggSpec, TimeKernelSpec

    with pytest.raises(ValueError, match="orders_alm"):
        TimeKernelSpec("almon", orders_alm=(-1, 0, 1, 2))
    with pytest.raises(ValueError, match="a_beta"):
        TimeKernelSpec("beta", a_beta=(-2,), b_beta=(3,))
    with pytest.raises(ValueError, match="alphas_exp"):
        TimeKernelSpec("exponential", alphas_exp=(-1.0, -3.0))
    with pytest.raises(ValueError, match="own"):
        TimeKernelSpec("own")
    with pytest.raises(ValueError, match="'-'"):
        TimeKernelSpec("own", own=(("dot--hacker", (0.5, 0.5)),))
    # valid params still construct
    TimeKernelSpec("own", own=(("flat", (0.5, 0.5)),))
    # alphaExpDocs cancels from the normalized doc weights: not a field
    with pytest.raises(TypeError, match="alpha_exp_docs"):
        AggSpec(how_docs="exponential", alpha_exp_docs=0.1)
