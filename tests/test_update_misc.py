"""Incremental measures_update (M8), corpus helpers (S4/S5), as_sentiment
(O3), quantile peakdocs, loss data (R7)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.config import AggSpec, TimeKernelSpec
from sentometrics_spark.corpus import drop_features, read_corpus
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.measures import as_sentiment, peakdocs
from sentometrics_spark.model.elasticnet import get_loss_data, model_performance
from sentometrics_spark.pipeline import measures_update, sento_measures

MKEY = ["bucket_ts", "lexicon", "feature", "timeweight"]


def test_measures_update_equals_full_recompute(spark, pages, lexicons):
    """Scoring only the new documents and merging must equal recomputing
    from scratch on the full corpus
    (/root/reference/tests/testthat/test_measures_manipulation.R:104-113)."""
    lex = Lexicons(lex=lexicons.lex)
    spec = AggSpec(by="week", lag=2, time_kernels=(TimeKernelSpec("linear"),))
    half = pages.filter(F.crc32("url") % 2 == 0).cache()
    sm_half = sento_measures(half, lex, spec)
    n_half = sm_half.sentiment.select("url").distinct().count()

    updated = measures_update(sm_half, pages, lex)
    n_full = updated.sentiment.select("url").distinct().count()
    assert n_full == pages.count() > n_half

    direct = sento_measures(pages, lex, spec)
    a = updated.measures.toPandas().sort_values(MKEY).reset_index(drop=True)
    b = direct.measures.toPandas().sort_values(MKEY).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_allclose(a["value"], b["value"], atol=1e-12, rtol=1e-9)


def test_drop_features_guards(pages):
    out = drop_features(pages, ["feat_spark"])
    assert "feat_spark" not in out.columns
    with pytest.raises(ValueError):
        drop_features(pages, ["text"])
    all_gone = drop_features(pages, ["feat_spark", "feat_nonspark", "feat_srca"])
    assert "feat_dummy" in all_gone.columns


def test_read_corpus_roundtrip(spark, pages, tmp_path):
    p = str(tmp_path / "corpus_json")
    pages.drop("html").write.mode("overwrite").json(p)
    back = read_corpus(spark, p, fmt="json")
    assert back.count() == pages.count()
    assert dict(back.dtypes)["warc_ts"] == "timestamp"
    with pytest.raises(ValueError):
        read_corpus(spark, p, fmt="avro")


def test_as_sentiment(spark):
    df = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", 10, "LEXA", 1)],
        "url string, warc_ts string, word_count int, lexicon string, score int",
    )
    out = as_sentiment(df)
    assert "feature" in out.columns and dict(out.dtypes)["score"] == "double"
    with pytest.raises(ValueError, match="missing column"):
        as_sentiment(df.drop("word_count"))


def test_peakdocs_quantile(pages, lexicons):
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    sent = compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "counts", mode="unigram")
    n_docs = pages.count()
    top = peakdocs(sent, 0.1, type="both").toPandas()
    assert 0 < len(top) <= int(n_docs * 0.15) + 5


def test_loss_data_and_performance():
    preds = pd.DataFrame({"pred": [1.0, 2.0, 3.0], "actual": [1.1, 1.9, 3.3]})
    perf = model_performance(preds)
    assert perf["RMSFE"] > 0 and perf["MAD"] > 0 and perf["MDA"] == 100.0  # percent, ref R/sentomodel.R:613-615
    loss = get_loss_data({"m1": preds, "m2": preds}, "errorSq")
    assert loss.shape == (3, 2)
    np.testing.assert_allclose(loss["m1"], [0.01, 0.01, 0.09])


def test_merge_sentiment_union_semantics(spark):
    """Identical rows collapse; rows differing in score stay separate
    (/root/reference/R/sentiment_engines.R examples: nrow(m5) > nrow(m4))."""
    from sentometrics_spark.measures import merge_sentiment

    schema = "url string, warc_ts string, word_count int, lexicon string, feature string, score double"
    a = spark.createDataFrame(
        [("u1", "2024-01-01", 5, "L", "f", 1.0), ("u2", "2024-01-01", 5, "L", "f", 2.0)], schema
    )
    b = spark.createDataFrame(
        [("u1", "2024-01-01", 5, "L", "f", 1.0),  # identical -> collapses
         ("u2", "2024-01-01", 5, "L", "f", 9.0),  # different score -> extra row
         ("u3", "2024-01-01", 5, "L", "f", None)], schema  # NA -> 0
    )
    out = merge_sentiment(a, b).toPandas()
    assert len(out) == 4
    assert out[out.url == "u3"]["score"].iloc[0] == 0.0
    assert sorted(out[out.url == "u2"]["score"]) == [2.0, 9.0]


def test_summary_introspection(pages, lexicons):
    from sentometrics_spark.config import AggSpec, TimeKernelSpec

    lex = Lexicons(lex=fixture_lexicons().lex)
    sm = sento_measures(pages, lex, AggSpec(by="week", lag=2, time_kernels=(TimeKernelSpec("linear"),)))
    s = sm.summary()
    assert s["by"] == "week" and s["lag"] == 2
    assert s["nmeasures"] == 2 * 3 * 1
    assert s["nobs"] > 0 and s["first_bucket"] < s["last_bucket"]
