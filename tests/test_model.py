"""Driver-side modeling layer (R1-R8): elastic net, calibration, rolling
iteration, and the attribution reconciliation invariant
(/root/reference/tests/testthat/test_attribution.R:47-60)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.model.elasticnet import (
    ModelCtr,
    align_variables,
    clean_panel,
    create_cv_slices,
    elastic_net_cd,
    model_performance,
    sento_model,
    sento_model_iter,
)


def _synth(n=200, p=8, seed=0):
    rng = np.random.RandomState(seed)
    X = rng.normal(size=(n, p))
    beta = np.zeros(p)
    beta[:3] = [1.5, -2.0, 0.7]
    y = X @ beta + 0.5 + rng.normal(scale=0.1, size=n)
    return pd.Series(y), pd.DataFrame(X, columns=[f"x{i}" for i in range(p)]), beta


def test_elastic_net_recovers_signal():
    y, X, beta = _synth()
    coefs, b0 = elastic_net_cd(X.to_numpy(), y.to_numpy(), alpha=1.0, lam=0.01)
    assert b0 == pytest.approx(0.5, abs=0.1)
    np.testing.assert_allclose(coefs[:3], beta[:3], atol=0.15)
    assert np.abs(coefs[3:]).max() < 0.05


def test_lasso_sparsity_increases_with_lambda():
    y, X, _ = _synth()
    c1, _ = elastic_net_cd(X.to_numpy(), y.to_numpy(), alpha=1.0, lam=0.01)
    c2, _ = elastic_net_cd(X.to_numpy(), y.to_numpy(), alpha=1.0, lam=1.0)
    assert (c2 != 0).sum() <= (c1 != 0).sum()


def test_sento_model_calibration():
    y, X, beta = _synth()
    for cal in ("BIC", "AIC", "Cp"):
        m = sento_model(y, X, ModelCtr(calibration=cal, alphas=(0.5, 1.0), n_lambdas=20))
        pred = m.predict(X)
        r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        assert r2 > 0.9, f"{cal}: r2={r2}"


def test_sento_model_cv():
    y, X, _ = _synth(n=120)
    m = sento_model(y, X, ModelCtr(calibration="cv", alphas=(1.0,), n_lambdas=10, cv_train=40, cv_test=10))
    assert m.criterion < 0.1


def test_align_and_clean():
    y = pd.Series(np.arange(10, dtype=float))
    X = pd.DataFrame({"a": np.arange(10, dtype=float), "b": np.zeros(10), "c": np.arange(10, dtype=float)})
    y2, X2 = align_variables(y, X, h=2)
    assert len(y2) == 8 and len(X2) == 8
    assert y2.iloc[0] == 2.0 and X2["a"].iloc[0] == 0.0
    Xc = clean_panel(X)
    assert "b" not in Xc.columns  # all zeros
    assert list(Xc.columns) == ["a"]  # c duplicates a


def test_cv_slices():
    # one slice per origin, step 1 (create_cv_slices,
    # /root/reference/R/utils.R:207-221): stops 10..25 -> 16 slices
    s = create_cv_slices(30, 10, 5)
    assert len(s) == 16
    for tr, te in s:
        assert tr.max() < te.min() and len(tr) == 10 and len(te) == 5
    first_tr, first_te = s[0]
    assert list(first_tr) == list(range(10)) and list(first_te) == list(range(10, 15))
    last_tr, last_te = s[-1]
    assert list(last_tr) == list(range(15, 25)) and list(last_te) == list(range(25, 30))
    with pytest.raises(ValueError):
        create_cv_slices(15, 10, 5)
    # skip widens the train->test gap (ref skip arg)
    sk = create_cv_slices(30, 10, 5, skip=3)
    assert len(sk) == 13 and list(sk[0][1]) == list(range(13, 18))


def test_model_iter_metrics():
    y, X, _ = _synth(n=80)
    out = sento_model_iter(y, X, ModelCtr(alphas=(1.0,), n_lambdas=10), n_windows=5, window=60)
    assert len(out) == 5
    assert out.attrs["RMSFE"] < 0.5


def test_attribution_reconciliation(spark, pages, lexicons):
    """Per-date sums of document / lag / lexicon / feature / timeweight
    attributions must all equal pred - intercept."""
    from sentometrics_spark.aggregate.doc_agg import aggregate_docs, doc_weights
    from sentometrics_spark.aggregate.kernels import setup_time_weights
    from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
    from sentometrics_spark.config import TimeKernelSpec
    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.model.attribution import (
        attributions_dims,
        attributions_docs,
        attributions_lags,
        coef_df,
    )
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    lag, by = 3, "week"
    lex = Lexicons(lex=lexicons.lex)
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram").cache()
    docagg = aggregate_docs(sent, by=by, how="proportional", keep_partials=False)
    filled = measures_fill(
        docagg.select("bucket_ts", "lexicon", "feature", "value"), by=by, fill="zero"
    ).cache()
    kernels = setup_time_weights((TimeKernelSpec("equal_weight"), TimeKernelSpec("linear")), lag)
    measures = aggregate_time(filled, kernels, lag).cache()

    # synthetic coefficients (fixed, no fitting needed for the invariant)
    dims = measures.select("lexicon", "feature", "timeweight").distinct().collect()
    coefs = pd.Series(
        {f'{r["lexicon"]}--{r["feature"]}--{r["timeweight"]}': 0.1 * (i + 1) for i, r in enumerate(sorted(dims, key=str))}
    )
    cdf = coef_df(spark, coefs)

    pred = (
        measures.join(F.broadcast(cdf), ["lexicon", "feature", "timeweight"])
        .groupBy("bucket_ts")
        .agg(F.sum(F.col("coef") * F.col("value")).alias("total"))
        .toPandas()
        .set_index("bucket_ts")["total"]
        .sort_index()
    )

    for dim in ("lexicon", "feature", "timeweight"):
        a = (
            attributions_dims(measures, cdf, dim)
            .groupBy("bucket_ts")
            .agg(F.sum("attrib").alias("s"))
            .toPandas()
            .set_index("bucket_ts")["s"]
            .sort_index()
        )
        np.testing.assert_allclose(a.to_numpy(), pred.to_numpy(), atol=1e-9)

    lags = (
        attributions_lags(filled, cdf, kernels, lag)
        .groupBy("pred_ts")
        .agg(F.sum("attrib").alias("s"))
        .toPandas()
        .set_index("pred_ts")["s"]
        .sort_index()
    )
    np.testing.assert_allclose(lags.to_numpy(), pred.to_numpy(), atol=1e-9)

    w = doc_weights(sent, by=by, how="proportional")
    docs = (
        attributions_docs(sent, w, filled, cdf, kernels, lag, by)
        .groupBy("pred_ts")
        .agg(F.sum("attrib").alias("s"))
        .toPandas()
        .set_index("pred_ts")["s"]
        .sort_index()
    )
    np.testing.assert_allclose(docs.to_numpy(), pred.to_numpy(), atol=1e-9)


@pytest.mark.parametrize("calibration", ["BIC", "AIC", "Cp", "cv"])
@pytest.mark.parametrize("family", ["gaussian", "binomial"])
def test_family_calibration_grid(family, calibration):
    """Grid over {gaussian, binomial} x {BIC, AIC, Cp, cv} recovering a
    planted signal (mirrors /root/reference/tests/testthat/test_modeling.R:38-76)."""
    rng = np.random.default_rng(11)
    n, p = 120, 8
    X = pd.DataFrame(rng.normal(size=(n, p)), columns=[f"x{j}" for j in range(p)])
    eta = 2.5 * X["x0"] - 2.0 * X["x3"]
    if family == "gaussian":
        y = pd.Series(eta + 0.1 * rng.normal(size=n))
    else:
        y = pd.Series((eta + 0.5 * rng.normal(size=n) > 0).astype(float))
    ctr = ModelCtr(model=family, calibration=calibration,
                   alphas=(0.5, 1.0), n_lambdas=25, cv_train=60, cv_test=15)
    m = sento_model(y, X, ctr)
    # planted signals recovered with correct signs
    assert m.coefs["x0"] > 0.1
    assert m.coefs["x3"] < -0.1
    if family == "binomial":
        acc = (m.predict_class(X) == y.to_numpy()).mean()
        assert acc > 0.85
        perf = model_performance(
            pd.DataFrame({"pred": m.predict_class(X), "actual": y}), family="binomial"
        )
        assert perf["accuracy"] > 85.0
    else:
        resid = y.to_numpy() - m.predict(X)
        assert float(np.abs(resid).mean()) < 0.5


def test_multinomial_ovr():
    rng = np.random.default_rng(5)
    n = 180
    X = pd.DataFrame(rng.normal(size=(n, 5)), columns=[f"x{j}" for j in range(5)])
    latent = np.stack([2.0 * X["x0"], 2.0 * X["x1"], 2.0 * X["x2"]], axis=1)
    y = pd.Series(latent.argmax(axis=1))
    ctr = ModelCtr(model="multinomial", calibration="BIC", alphas=(1.0,), n_lambdas=15)
    m = sento_model(y, X, ctr)
    assert m.classes == [0, 1, 2]
    pred = m.predict(X)
    assert (pred == y.to_numpy()).mean() > 0.8
    perf = model_performance(pd.DataFrame({"pred": pred, "actual": y}), family="multinomial")
    assert perf["accuracy"] > 80.0


def test_ridge_based_sigma2_used():
    """sigma2 comes from the max-df grid fit, not var(y): with a strong
    signal, var(y) >> RSS/(n-df), and BIC with the ridge-based sigma2 must
    still pick a sparse, sign-correct model."""
    rng = np.random.default_rng(3)
    n, p = 100, 10
    X = pd.DataFrame(rng.normal(size=(n, p)), columns=[f"x{j}" for j in range(p)])
    y = pd.Series(5.0 * X["x0"] + 0.05 * rng.normal(size=n))
    m = sento_model(y, X, ModelCtr(calibration="BIC", alphas=(1.0,), n_lambdas=40))
    active = (m.coefs.abs() > 1e-8).sum()
    assert m.coefs["x0"] > 4.5
    assert active <= 3  # noise columns shrunk away

def test_rejects_unknown_family():
    with pytest.raises(ValueError, match="family"):
        ModelCtr(model="poisson")


def test_attribution_reconciliation_latest_fill_gappy(spark):
    """fill='latest' on a gappy panel: all four roll-ups must still equal
    pred - intercept; carried values route back to their source documents
    (/root/reference/R/attribution.R:49-68)."""
    import datetime as dt

    from sentometrics_spark.aggregate.doc_agg import aggregate_docs, doc_weights
    from sentometrics_spark.aggregate.kernels import setup_time_weights
    from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
    from sentometrics_spark.config import TimeKernelSpec
    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.model.attribution import (
        attributions_dims,
        attributions_docs,
        attributions_lags,
        coef_df,
    )
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    lex = Lexicons(lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}})
    # documents on days 1, 2, 5, 9 -> gaps at 3-4 and 6-8
    rows = []
    for i, (day, text) in enumerate(
        [(1, "fast fast car"), (2, "slow road"), (5, "fast slow mix"), (9, "slow slow slow")]
    ):
        rows.append((f"u{i}", dt.datetime(2024, 1, day, 8 + i), "en", text, 1.0))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, feat_x double"
    )
    lag, by = 3, "day"
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram").cache()
    docagg = aggregate_docs(sent, by=by, how="proportional", keep_partials=False)
    filled = measures_fill(
        docagg.select("bucket_ts", "lexicon", "feature", "value"),
        by=by, fill="latest", keep_source=True,
    ).cache()
    kernels = setup_time_weights((TimeKernelSpec("linear"),), lag)
    measures = aggregate_time(
        filled.select("bucket_ts", "lexicon", "feature", "value"), kernels, lag
    ).cache()
    cdf = coef_df(spark, pd.Series({"L--feat_x--linear": 0.7}))

    pred = (
        measures.join(F.broadcast(cdf), ["lexicon", "feature", "timeweight"])
        .groupBy("bucket_ts")
        .agg(F.sum(F.col("coef") * F.col("value")).alias("total"))
        .toPandas().set_index("bucket_ts")["total"].sort_index()
    )
    assert len(pred) == 7  # days 3..9

    for dim in ("lexicon", "feature", "timeweight"):
        a = (
            attributions_dims(measures, cdf, dim)
            .groupBy("bucket_ts").agg(F.sum("attrib").alias("s"))
            .toPandas().set_index("bucket_ts")["s"].sort_index()
        )
        np.testing.assert_allclose(a.to_numpy(), pred.to_numpy(), atol=1e-9)

    lags = (
        attributions_lags(filled, cdf, kernels, lag)
        .groupBy("pred_ts").agg(F.sum("attrib").alias("s"))
        .toPandas().set_index("pred_ts")["s"].sort_index()
    )
    np.testing.assert_allclose(lags.to_numpy(), pred.to_numpy(), atol=1e-9)

    w = doc_weights(sent, by=by, how="proportional")
    docs = (
        attributions_docs(sent, w, filled, cdf, kernels, lag, by)
        .groupBy("pred_ts").agg(F.sum("attrib").alias("s"))
        .toPandas().set_index("pred_ts")["s"].sort_index()
    )
    np.testing.assert_allclose(docs.to_numpy(), pred.to_numpy(), atol=1e-9)


def test_multinomial_cv_calibration():
    """calibration='cv' on multinomial runs real rolling-origin CV (pooled
    OvR argmax classification error), not a silent IC fallback."""
    rng = np.random.RandomState(7)
    n = 90
    X = pd.DataFrame(rng.normal(size=(n, 4)), columns=list("abcd"))
    eta = 2.5 * X["a"] - 2.0 * X["c"]
    y = pd.Series(np.where(eta > 0.8, "hi", np.where(eta < -0.8, "lo", "mid")))
    ctr = ModelCtr(model="multinomial", calibration="cv", alphas=(1.0,),
                   n_lambdas=8, cv_train=50, cv_test=10)
    m = sento_model(y, X, ctr)
    assert sorted(m.classes) == ["hi", "lo", "mid"]
    pred = m.predict(X)
    acc = float((pred == y).mean())
    assert acc >= 0.8, acc
    # criterion is a mean CV error rate, bounded in [0, 1]
    assert 0.0 <= m.criterion <= 1.0


def test_binomial_performance_thresholds_probabilities():
    """model_performance(binomial) accepts probability predictions from
    SentoModel.predict and thresholds at 0.5 (regression: prob == label
    used to yield 0% accuracy silently)."""
    preds = pd.DataFrame({"pred": [0.9, 0.2, 0.7, 0.4], "actual": [1.0, 0.0, 1.0, 0.0]})
    out = model_performance(preds, family="binomial")
    assert out["accuracy"] == 100.0
    # hard labels still work unchanged
    hard = pd.DataFrame({"pred": [1.0, 0.0, 0.0], "actual": [1.0, 0.0, 1.0]})
    assert abs(model_performance(hard, family="binomial")["accuracy"] - 66.6667) < 0.01


def test_attribution_normalize(spark):
    """do.normalize: per-date L2 norm of the dimension attributions is 1;
    zero-norm dates become 0, not NaN
    (/root/reference/R/attribution.R:80-86,101-107)."""
    from sentometrics_spark.model.attribution import attributions_dims, coef_df

    measures = spark.createDataFrame(
        [
            ("2024-01-01", "L1", "f", "eq", 0.5),
            ("2024-01-01", "L2", "f", "eq", -0.25),
            ("2024-01-08", "L1", "f", "eq", 0.0),
            ("2024-01-08", "L2", "f", "eq", 0.0),
        ],
        "bucket_ts string, lexicon string, feature string, timeweight string, value double",
    )
    coefs = coef_df(spark, pd.Series({"L1--f--eq": 2.0, "L2--f--eq": 4.0}))
    plain = attributions_dims(measures, coefs, "lexicon").toPandas()
    out = attributions_dims(measures, coefs, "lexicon", do_normalize=True).toPandas()
    norms = out.groupby("bucket_ts")["attrib"].apply(lambda v: float(np.sqrt((v**2).sum())))
    assert norms["2024-01-01"] == pytest.approx(1.0)
    assert norms["2024-01-08"] == 0.0
    # direction preserved: normalized = plain / ||plain||
    p = plain[plain.bucket_ts == "2024-01-01"].set_index("lexicon")["attrib"]
    o = out[out.bucket_ts == "2024-01-01"].set_index("lexicon")["attrib"]
    np.testing.assert_allclose(o, p / np.sqrt((p**2).sum()), atol=1e-12)
