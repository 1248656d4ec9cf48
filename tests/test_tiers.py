"""Tier-rollup engine: composability (day rollup of hour tier == direct day
aggregation), retention, and the TierStore round-trip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import (
    RetentionPolicy,
    TierStore,
    base_tier,
    build_all_tiers,
    rollup,
)
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


@pytest.fixture(scope="module")
def sent(pages, lexicons):
    return compute_sentiment_udf(pages, Lexicons(lex=lexicons.lex), "proportional", mode="unigram").cache()


@pytest.mark.parametrize(
    "how",
    ["equal_weight", "proportional", "inverseProportional", "exponential", "inverseExponential"],
)
@pytest.mark.parametrize("tier", ["day", "week", "month"])
def test_tier_composability(sent, how, tier):
    """Rolling up the hour tier must equal aggregating documents directly at
    the coarser tier (the partial-sum exactness contract), for all five doc
    weighting schemes."""
    hour = base_tier(sent, how=how, by="hour")
    composed = rollup(hour, tier).select(*KEY, "value").toPandas().sort_values(KEY)
    direct = (
        aggregate_docs(sent, by=tier, how=how, keep_partials=False)
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
    )
    assert len(composed) == len(direct)
    np.testing.assert_allclose(
        composed["value"].to_numpy(), direct["value"].to_numpy(), atol=1e-12, rtol=1e-9
    )


def test_chained_tiers(sent):
    tiers = build_all_tiers(sent, how="proportional")
    counts = {t: df.select("bucket_ts").distinct().count() for t, df in tiers.items()}
    assert counts["hour"] > counts["day"] > counts["week"] > counts["month"]
    # month tier composed hour->day->week? No: week doesn't nest in month.
    # build_all_tiers chains hour->day->week and hour->day->month? verify the
    # month tier equals direct aggregation:
    direct = aggregate_docs(sent, by="month", how="proportional", keep_partials=False)
    got = tiers["month"].select(*KEY, "value").toPandas().sort_values(KEY)
    exp = direct.select(*KEY, "value").toPandas().sort_values(KEY)
    np.testing.assert_allclose(got["value"].to_numpy(), exp["value"].to_numpy(), atol=1e-12, rtol=1e-9)


def test_tier_store_roundtrip_and_retention(spark, sent, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    hour = base_tier(sent, how="proportional", by="hour")
    store.write("hour", hour)
    back = store.read("hour")
    assert back.count() == hour.count()
    got = back.select(*KEY, "value").toPandas().sort_values(KEY)
    exp = hour.select(*KEY, "value").toPandas().sort_values(KEY)
    np.testing.assert_allclose(got["value"].to_numpy(), exp["value"].to_numpy(), atol=1e-12)

    # retention: keep last 24 hours relative to max bucket
    n_kept = store.apply_retention("hour", RetentionPolicy(hour=24))
    kept = store.read("hour")
    assert kept.count() == n_kept
    mn, mx = kept.agg(F.min("bucket_ts"), F.max("bucket_ts")).collect()[0]
    assert (mx - mn).total_seconds() <= 24 * 3600


@pytest.mark.parametrize("tier", ["day", "week", "month"])
@pytest.mark.parametrize("ignore_zeros", [True, False])
def test_exponential_tier_composability(sent, tier, ignore_zeros):
    """The bucket-relative exponential scheme composes exactly from the
    affine partials (s_sum, wcs_sum, wc_in, n_in, bucket_wc) along the
    build_all_tiers chain, with and without do_ignore_zeros."""
    hour = base_tier(sent, "exponential", do_ignore_zeros=ignore_zeros, by="hour")
    assert "bucket_wc" in hour.columns
    lower = hour
    for t in ["day", "week", "month"]:
        if t == "week" and tier == "month":
            continue  # week does not nest in month: chain hour->day->month
        lower = rollup(lower, t)
        if t == tier:
            break
    direct = aggregate_docs(
        sent, by=tier, how="exponential", do_ignore_zeros=ignore_zeros, keep_partials=False,
    )
    got = lower.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    exp = direct.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["value"].to_numpy(), exp["value"].to_numpy(), atol=1e-9, rtol=1e-7)


def test_inverse_exponential_equals_exponential(sent):
    """Negating every weight numerator cancels in the normalized ratio —
    the reference's exponential and inverseExponential doc schemes produce
    the same weighted mean (formulas /root/reference/R/sentomeasures_main.R:553-576)."""
    a = aggregate_docs(sent, by="day", how="exponential", keep_partials=False)
    b = aggregate_docs(sent, by="day", how="inverseExponential", keep_partials=False)
    ga = a.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    gb = b.select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
    np.testing.assert_allclose(ga["value"].to_numpy(), gb["value"].to_numpy(), atol=1e-9)


def test_exponential_tier_zero_wordcount_bucket(spark):
    """A bucket whose documents ALL tokenized to zero words (digits-only
    web text) must produce value 0.0, not NaN (regression: c/bucket_wc
    with bucket_wc=0 produced Inf*0 = NaN through try_divide/coalesce)."""
    import datetime as dt

    rows = [
        # bucket 1: normal docs
        ("u1", dt.datetime(2024, 1, 1, 9), "en", 10, "L", "f", 0.4),
        ("u2", dt.datetime(2024, 1, 1, 9), "en", 5, "L", "f", -0.2),
        # bucket 2: all zero-word docs
        ("u3", dt.datetime(2024, 1, 1, 10), "en", 0, "L", "f", 0.0),
        ("u4", dt.datetime(2024, 1, 1, 10), "en", 0, "L", "f", 0.0),
    ]
    sent = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, lang string, word_count long, "
        "lexicon string, feature string, score double",
    )
    hour = base_tier(sent, "exponential", by="hour")
    pdf = hour.toPandas().set_index("bucket_ts").sort_index()
    assert np.isfinite(pdf["value"]).all(), pdf
    assert pdf.loc[dt.datetime(2024, 1, 1, 10), "value"] == 0.0
    day = rollup(hour, "day").toPandas()
    assert np.isfinite(day["value"]).all(), day


def _tier_pdf(df):
    return (
        df.select("bucket_ts", *sorted(["lexicon", "feature"]), "value")
        .toPandas()
        .sort_values(["bucket_ts", "lexicon", "feature"])
        .reset_index(drop=True)
    )


def test_refresh_continuous_incremental_equals_full(spark, sent, tmp_path):
    """Folding the corpus in as two batches through refresh_continuous must
    leave every stored tier equal to the full one-shot build, and a
    follow-up single-day batch must rewrite only that day's partitions."""
    from sentometrics_spark.aggregate.tiers import refresh_continuous

    store = TierStore(spark, str(tmp_path / "cont"))
    b1 = sent.filter(F.crc32(F.col("url")) % 2 == 0)
    b2 = sent.filter(F.crc32(F.col("url")) % 2 == 1)

    n1 = refresh_continuous(store, base_tier(b1, "proportional", by="hour"))
    n2 = refresh_continuous(store, base_tier(b2, "proportional", by="hour"))
    assert n1["hour"] > 0 and n2["week"] > 0

    full = build_all_tiers(sent, "proportional")
    for tier in ("hour", "day", "week", "month"):
        got = _tier_pdf(store.read(tier))
        want = _tier_pdf(full[tier])
        assert len(got) == len(want), tier
        np.testing.assert_allclose(
            got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9, atol=1e-12
        )

    # single-day batch: only that day's hour/day partitions are rewritten
    import os

    one_day = sent.filter(F.to_date("warc_ts") == F.lit("2024-01-05"))
    other_part = os.path.join(store.path("hour"), "bucket_date=2024-01-10")
    before = {f: os.path.getmtime(os.path.join(other_part, f)) for f in os.listdir(other_part)}
    n3 = refresh_continuous(store, base_tier(one_day, "proportional", by="hour"))
    assert n3["hour"] == 1 and n3["day"] == 1 and n3["week"] == 1 and n3["month"] == 1
    after = {f: os.path.getmtime(os.path.join(other_part, f)) for f in os.listdir(other_part)}
    assert before == after, "untouched hour partition was rewritten"


def test_refresh_continuous_exponential(spark, sent, tmp_path):
    """The affine-partial exponential tiers refresh incrementally too:
    two-batch refresh equals the direct exponential aggregation at every
    tier (bucket_wc partials sum because batches hold disjoint docs)."""
    from sentometrics_spark.aggregate.tiers import refresh_continuous

    store = TierStore(spark, str(tmp_path / "cont_exp"))
    b1 = sent.filter(F.crc32(F.col("url")) % 2 == 0)
    b2 = sent.filter(F.crc32(F.col("url")) % 2 == 1)
    refresh_continuous(store, base_tier(b1, "exponential", by="hour"))
    refresh_continuous(store, base_tier(b2, "exponential", by="hour"))

    want = build_all_tiers(sent, "exponential")
    for tier in ("hour", "day", "week", "month"):
        got = _tier_pdf(store.read(tier))
        w = _tier_pdf(want[tier])
        assert len(got) == len(w), tier
        np.testing.assert_allclose(
            got["value"].to_numpy(), w["value"].to_numpy(), rtol=1e-9, atol=1e-12
        )


def test_submit_job_exponential_tiers(spark, sf_dir, tmp_path):
    """scripts/submit_job.py with a bucket-relative doc weighting stores
    tiers built from the affine partials: the stored day tier equals
    direct exponential aggregation by day (regression: the hour tier was
    rolled up as if (wsum, wden) composed, off by up to 0.43)."""
    import os
    import subprocess
    import sys

    from sentometrics_spark.corpus import build_pages, validate_corpus

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src, out = str(tmp_path / "pages"), str(tmp_path / "tiers")
    build_pages(spark, sf_dir, with_html=False).write.parquet(src)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [
            sys.executable, os.path.join(repo, "scripts", "submit_job.py"),
            "--input", src, "--output", out,
            "--how-docs", "exponential", "--master", "local[2]",
        ],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    pages = validate_corpus(spark.read.parquet(src))
    sent = compute_sentiment_udf(pages, fixture_lexicons(), "proportional", mode="unigram")
    direct = aggregate_docs(sent, by="day", how="exponential", keep_partials=False)
    got = _tier_pdf(TierStore(spark, out).read("day"))
    want = _tier_pdf(direct)
    assert len(got) == len(want)
    assert (got[KEY] == want[KEY]).all().all()
    np.testing.assert_allclose(got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9, atol=1e-12)
