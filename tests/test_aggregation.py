"""Doc-level and time-level aggregation vs the pandas oracle, plus the
reference suite's invariants (/root/reference/tests/testthat/test_aggregation.R)."""

import numpy as np
import pandas as pd
import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.aggregate.tiers import build_all_tiers
from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
from sentometrics_spark.config import AggSpec, TimeKernelSpec
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.pipeline import sento_measures
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

from tests import oracle as orc

MKEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def no_valence(lexicons):
    return Lexicons(lex=lexicons.lex)


@pytest.fixture(scope="module")
def sent(pages, no_valence):
    return compute_sentiment_udf(pages, no_valence, "proportional", mode="unigram").cache()


@pytest.fixture(scope="module")
def sent_pdf(pages_pdf, no_valence):
    return orc.oracle_sentiment(pages_pdf, no_valence, "proportional", "unigram")


def _cmp_measures(spark_df, oracle_pdf, keys=None, atol=1e-12):
    keys = keys or MKEY
    got = spark_df.toPandas().sort_values(keys).reset_index(drop=True)
    exp = oracle_pdf.sort_values(keys).reset_index(drop=True)
    assert len(got) == len(exp), f"rows {len(got)} != {len(exp)}"
    got["bucket_ts"] = pd.to_datetime(got["bucket_ts"])
    exp["bucket_ts"] = pd.to_datetime(exp["bucket_ts"])
    for k in keys:
        assert (got[k].to_numpy() == exp[k].to_numpy()).all(), f"key mismatch in {k}"
    np.testing.assert_allclose(got["value"], exp["value"], atol=atol, rtol=1e-9)


@pytest.mark.parametrize("how", ["equal_weight", "proportional", "inverseProportional", "exponential", "inverseExponential"])
@pytest.mark.parametrize("ignore_zeros", [True, False])
@pytest.mark.parametrize("by", ["day", "week"])
def test_aggregate_docs_vs_oracle(sent, sent_pdf, how, ignore_zeros, by):
    got = aggregate_docs(sent, by=by, how=how, do_ignore_zeros=ignore_zeros, keep_partials=False)
    exp = orc.oracle_aggregate_docs(sent_pdf, by, how, ignore_zeros)
    _cmp_measures(got.select(*MKEY, "value"), exp)


@pytest.mark.parametrize("by", ["hour", "month"])
def test_aggregate_docs_other_buckets(sent, sent_pdf, by):
    got = aggregate_docs(sent, by=by, how="proportional", keep_partials=False)
    exp = orc.oracle_aggregate_docs(sent_pdf, by, "proportional", True)
    _cmp_measures(got.select(*MKEY, "value"), exp)


@pytest.mark.parametrize("how", ["exponential", "inverseExponential"])
def test_exponential_hour_tier_vs_oracle(sent, sent_pdf, how):
    """The stored hour tier of the bucket-relative schemes equals the
    oracle, one-document buckets included (regression: the 1/W form of
    the tier value cancelled to noise instead of the exact zero weight
    denominator, off by up to 0.25 where the oracle gives 0.0)."""
    got = build_all_tiers(sent, how)["hour"]
    exp = orc.oracle_aggregate_docs(sent_pdf, "hour", how)
    _cmp_measures(got.select(*MKEY, "value"), exp)


@pytest.mark.parametrize("fill", ["zero", "latest"])
def test_fill_vs_oracle(sent, sent_pdf, fill):
    got = aggregate_docs(sent, by="day", how="equal_weight", keep_partials=False)
    got_f = measures_fill(got.select(*MKEY, "value"), by="day", fill=fill)
    exp = orc.oracle_fill(orc.oracle_aggregate_docs(sent_pdf, "day", "equal_weight"), "day", fill)
    _cmp_measures(got_f.select(*MKEY, "value"), exp)


def test_fill_extends_range(sent):
    """fill with dateBefore/dateAfter extends the spine
    (/root/reference/tests/testthat/test_measures_manipulation.R:42-51)."""
    m = aggregate_docs(sent, by="day", keep_partials=False).select(*MKEY, "value")
    base = measures_fill(m, by="day", fill="zero")
    ext = measures_fill(m, by="day", fill="zero", date_before="2023-12-25", date_after="2024-04-10")
    n_base = base.select("bucket_ts").distinct().count()
    n_ext = ext.select("bucket_ts").distinct().count()
    assert n_ext > n_base
    latest_ext = measures_fill(
        m, by="day", fill="latest", date_before="2023-12-25"
    ).toPandas()
    assert latest_ext["value"].notna().all()


@pytest.mark.parametrize("lag,kspec", [
    (1, TimeKernelSpec("equal_weight")),
    (7, TimeKernelSpec("almon", orders_alm=(1, 2), do_inverse_alm=True)),
    (7, TimeKernelSpec("beta", a_beta=(1, 2), b_beta=(3,))),
    (24, TimeKernelSpec("exponential", alphas_exp=(0.1, 0.3), do_inverse_exp=True)),
    (3, TimeKernelSpec("linear")),
])
def test_aggregate_time_vs_oracle(sent, sent_pdf, lag, kspec):
    kernels = setup_time_weights((kspec,), lag)
    m = aggregate_docs(sent, by="day", keep_partials=False).select(*MKEY, "value")
    filled = measures_fill(m, by="day", fill="zero")
    got = aggregate_time(filled, kernels, lag)
    exp_m = orc.oracle_fill(orc.oracle_aggregate_docs(sent_pdf, "day", "equal_weight"), "day", "zero")
    exp = orc.oracle_aggregate_time(exp_m, kernels, lag)
    _cmp_measures(got, exp, keys=[*MKEY, "timeweight"])


def test_aggregate_time_fill_none_rolls_over_rows(sent, sent_pdf):
    """fill='none': rolling over existing rows only, irregular spacing
    (reference semantics of aggregate_time without measures_fill)."""
    kernels = setup_time_weights((TimeKernelSpec("linear"),), 5)
    m = aggregate_docs(sent, by="hour", keep_partials=False).select(*MKEY, "value")
    got = aggregate_time(m, kernels, 5)
    exp_m = orc.oracle_aggregate_docs(sent_pdf, "hour", "equal_weight")
    exp = orc.oracle_aggregate_time(exp_m, kernels, 5)
    _cmp_measures(got, exp, keys=[*MKEY, "timeweight"])


def test_full_pipeline_and_nmeasures(pages, pages_pdf, no_valence):
    """End-to-end sento_measures + the nmeasures product rule
    (/root/reference/tests/testthat/test_aggregation.R:42-46)."""
    spec = AggSpec(
        how_within="proportional",
        how_docs="proportional",
        time_kernels=(TimeKernelSpec("almon", orders_alm=(1, 2), do_inverse_alm=True),),
        by="day",
        lag=7,
        fill="zero",
    )
    sm = sento_measures(pages, no_valence, spec)
    kernels = sm.kernels
    exp = orc.oracle_measures(pages_pdf, no_valence, spec, kernels)
    _cmp_measures(sm.measures, exp, keys=[*MKEY, "timeweight"])
    dims = sm.dimensions
    assert sm.nmeasures() == len(dims["lexicons"]) * len(dims["features"]) * len(dims["time"])
    assert sm.nobs() == sm.measures.select("bucket_ts").distinct().count()


def test_lag_one_identity(sent):
    """lag=1 equal_weight measures == doc-aggregated values."""
    m = aggregate_docs(sent, by="day", keep_partials=False).select(*MKEY, "value")
    kernels = setup_time_weights((TimeKernelSpec("equal_weight"),), 1)
    rolled = aggregate_time(m, kernels, 1).toPandas().sort_values(MKEY)
    base = m.toPandas().sort_values(MKEY)
    np.testing.assert_allclose(rolled["value"].to_numpy(), base["value"].to_numpy(), atol=1e-12)


def test_mean_corr_distributed_equals_pandas(sent):
    """K7 meanCorr: the distributed self-join formulation must equal the
    driver-side pandas panel correlation (reference utils.R:371-387)."""
    from sentometrics_spark.aggregate.time_agg import (
        mean_corr_distributed,
        stats_with_mean_corr,
    )

    m = aggregate_docs(sent, by="day", keep_partials=False).select(*MKEY, "value")
    filled = measures_fill(m, by="day", fill="zero")
    kernels = setup_time_weights((TimeKernelSpec("equal_weight"),), 3)
    rolled = aggregate_time(filled, kernels, 3)
    got = (
        mean_corr_distributed(rolled)
        .toPandas()
        .sort_values(["lexicon", "feature", "timeweight"])
        .reset_index(drop=True)
    )
    exp = stats_with_mean_corr(rolled)
    exp_keys = exp.index.to_series().str.split("--", expand=True)
    exp = exp.assign(
        lexicon=exp_keys[0].values, feature=exp_keys[1].values, timeweight=exp_keys[2].values
    ).sort_values(["lexicon", "feature", "timeweight"]).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    np.testing.assert_allclose(got["meanCorr"], exp["meanCorr"], atol=1e-9)


def test_fill_zero_keep_source_gap_rows_null(spark):
    """keep_source with fill='zero': src_ts is the observed bucket on
    observed rows and NULL on zero-filled gap rows (regression: the
    coalesce used to run first, stamping every gap with its own ts)."""
    import datetime as dt

    m = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1), "L", "f", 0.5),
            (dt.datetime(2024, 1, 4), "L", "f", 0.7),
        ],
        "bucket_ts timestamp, lexicon string, feature string, value double",
    )
    out = measures_fill(m, by="day", fill="zero", keep_source=True).toPandas()
    out = out.sort_values("bucket_ts").reset_index(drop=True)
    assert len(out) == 4
    assert out["src_ts"].notna().tolist() == [True, False, False, True]
    assert out["value"].tolist() == [0.5, 0.0, 0.0, 0.7]


def test_lag_one_dummy_time(pages, lexicons):
    """lag=1 replaces every requested scheme with the single 'dummyTime'
    identity kernel (ctr_agg, /root/reference/R/sentomeasures_main.R:107-110)."""
    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.pipeline import sento_measures

    lex = Lexicons(lex=lexicons.lex)
    spec = AggSpec(by="week", lag=1, time_kernels=(
        TimeKernelSpec("linear"), TimeKernelSpec("almon", orders_alm=(1, 2))))
    sm = sento_measures(pages, lex, spec)
    assert sm.dimensions["time"] == ["dummyTime"]
    assert list(sm.kernels) == ["dummyTime"]
