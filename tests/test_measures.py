"""Panel operators (M1-M11, O2, M7) on a small hand-built measures table."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.measures import (
    aggregate_dimension,
    diff_measures,
    global_indices,
    peakdates,
    peakdocs,
    scale_measures,
    subset_measures,
    to_long,
    to_wide,
)


@pytest.fixture(scope="module")
def panel(spark):
    rows = []
    for d in range(1, 11):
        for lx in ("LEXA", "LEXB"):
            for f in ("f1", "f2"):
                for tw in ("eq", "lin"):
                    v = d * 0.1 * (1 if lx == "LEXA" else -1) + (0.01 if f == "f2" else 0.0)
                    rows.append((f"2024-01-{d:02d} 00:00:00", lx, f, tw, v))
    df = spark.createDataFrame(
        rows, "bucket_ts string, lexicon string, feature string, timeweight string, value double"
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    return df.cache()


def test_subset_select_delete(panel):
    sel = subset_measures(panel, select={"lexicon": ["LEXA"]})
    assert sel.select("lexicon").distinct().count() == 1
    dele = subset_measures(panel, delete={"timeweight": ["lin"]})
    assert dele.select("timeweight").distinct().collect()[0][0] == "eq"
    both = subset_measures(panel, expr="value > 0", select={"feature": ["f1"]})
    pdf = both.toPandas()
    assert (pdf["value"] > 0).all() and (pdf["feature"] == "f1").all()


def test_aggregate_dimension_mean(panel):
    out = aggregate_dimension(panel, "lexicon", {"LEXAB": ["LEXA", "LEXB"]})
    pdf = out.toPandas()
    assert set(pdf["lexicon"]) == {"LEXAB"}
    # mean of +x and -x components: only the f2 offset remains / 2... check one cell
    cell = pdf[(pdf["feature"] == "f1") & (pdf["timeweight"] == "eq")]
    src = panel.filter("feature='f1' and timeweight='eq'").toPandas()
    exp = src.groupby("bucket_ts")["value"].mean()
    got = cell.set_index("bucket_ts")["value"].sort_index()
    np.testing.assert_allclose(got.to_numpy(), exp.sort_index().to_numpy(), atol=1e-12)


def test_aggregate_dimension_keep_originals(panel):
    out = aggregate_dimension(panel, "lexicon", {"LEXAB": ["LEXA", "LEXB"]}, keep_originals=True)
    assert set(r["lexicon"] for r in out.select("lexicon").distinct().collect()) == {
        "LEXA", "LEXB", "LEXAB"
    }


def test_global_indices(panel):
    out = global_indices(panel).toPandas()
    assert {"global_lexicons", "global_features", "global_time", "global"} <= set(out.columns)
    # equal weights 1/2 per member: global_lexicons = mean(value * 0.5)
    pdf = panel.toPandas()
    exp = (pdf.groupby("bucket_ts")["value"].apply(lambda s: (s * 0.5).mean())).sort_index()
    got = out.set_index("bucket_ts")["global_lexicons"].sort_index()
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(), atol=1e-12)


def test_scale_zscore(panel):
    out = scale_measures(panel).toPandas()
    g = out.groupby(["lexicon", "feature", "timeweight"])["value"]
    np.testing.assert_allclose(g.mean().to_numpy(), 0.0, atol=1e-12)
    np.testing.assert_allclose(g.std(ddof=1).to_numpy(), 1.0, atol=1e-12)


def test_diff(panel):
    out = diff_measures(panel, lag=1, differences=1).toPandas()
    # 10 buckets -> 9 per series
    assert len(out) == 9 * 8
    one = out[(out.lexicon == "LEXA") & (out.feature == "f1") & (out.timeweight == "eq")]
    np.testing.assert_allclose(sorted(one["value"]), [0.1] * 9, atol=1e-12)
    out2 = diff_measures(panel, lag=1, differences=2).toPandas()
    assert len(out2) == 8 * 8
    one2 = out2[(out2.lexicon == "LEXA") & (out2.feature == "f1") & (out2.timeweight == "eq")]
    np.testing.assert_allclose(one2["value"].to_numpy(), 0.0, atol=1e-12)


def test_peakdates(panel):
    top = peakdates(panel, 3, type="pos").toPandas()
    assert len(top) == 3
    # row-mean per bucket is the f2 offset only; positive peak = latest dates for LEXA..
    # simply assert ordering by m desc
    assert (top["m"].to_numpy() == np.sort(top["m"].to_numpy())[::-1]).all()


def test_peakdocs(pages, lexicons):
    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    sent = compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "counts", mode="unigram")
    # default = reference do.average=FALSE: rank by most extreme single
    # measure value (/root/reference/R/sentiment_engines.R:506-512)
    top = peakdocs(sent, 5, type="both").toPandas()
    assert len(top) == 5
    full = sent.toPandas()
    ext = full.assign(a=full["score"].abs()).groupby("url")["a"].max()
    np.testing.assert_allclose(
        np.sort(np.abs(top["m"])), np.sort(ext.sort_values(ascending=False).head(5)), atol=1e-12
    )
    # do_average=True: rank by the row-mean across measures
    top_avg = peakdocs(sent, 5, type="both", do_average=True).toPandas()
    mean = full.groupby("url")["score"].mean()
    np.testing.assert_allclose(
        np.sort(np.abs(top_avg["m"])),
        np.sort(mean.abs().sort_values(ascending=False).head(5)), atol=1e-12
    )


def test_wide_long_roundtrip(panel):
    wide = to_wide(panel)
    assert len(wide.columns) == 1 + 8
    assert "LEXA--f1--eq" in wide.columns
    back = to_long(wide)
    a = panel.toPandas().sort_values(["bucket_ts", "lexicon", "feature", "timeweight"]).reset_index(drop=True)
    b = back.toPandas().sort_values(["bucket_ts", "lexicon", "feature", "timeweight"]).reset_index(drop=True)
    np.testing.assert_allclose(a["value"], b["value"], atol=1e-12)
    assert (a["lexicon"] == b["lexicon"]).all()
