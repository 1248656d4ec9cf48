"""Across-document aggregation per time bucket (A1-A4).

Semantics ported from aggregate_docs + weights_across
(/root/reference/R/sentomeasures_main.R:355-404, :518-580):

  value(bucket, lexicon, feature) = sum_d w_d * s_d
  w_d = num_d / sum_{d in D} num_d

where the numerator depends on the scheme:

  equal_weight          num = 1
  proportional          num = wc_d
  inverseProportional   num = 1 / wc_d
  exponential           num = 10*alpha*(wc_d / W - 1)   [linear despite name]
  inverseExponential    num = 10*alpha*(1 - wc_d / W)

W = sum of word counts over ALL docs in the bucket (one count per
document, not per long-format row). With do.ignoreZeros = TRUE
(/root/reference/R/sentomeasures_main.R:379-384), exact-zero scores become
NULL first, and the weight-normalizing set D is the per-(bucket, lexicon,
feature) NON-NULL set — denominators differ per measure column, the #1
source of subtle mismatches.

The exponential pair's factor 10*alpha/W is common to every numerator of a
bucket, so it cancels from every weight (as does inverseExponential's sign
flip): the engine uses num = wc_d - W (W - wc_d for inverseExponential) and
takes no alpha.

Every output row keeps the partial sums its value is finalized from, so a
coarser bucket is a plain sum of finer rows (tiers.rollup):

  - doc-LOCAL schemes (equal_weight, proportional, inverseProportional):
    num_d depends only on the document, so the pair
    (wsum = sum num*s, wden = sum num) composes; value = wsum / wden.
  - bucket-RELATIVE schemes (exponential, inverseExponential): num_d
    depends on W, so (wsum, wden) does not compose, but it is affine in
    wc_d. Over the non-null set the sums (s_sum = sum s_d, wcs_sum =
    sum wc_d*s_d, wc_in = sum wc_d, n_docs_in) plus W itself (bucket_wc)
    recombine at any coarser bucket, whose W is the sum of the finer W:

        value = (wcs_sum - W*s_sum) / (wc_in - W*n_docs_in)

    The denominator sum (wc_d - W) is integer-valued, so it is exact: a
    bucket whose weights are all zero (a one-document bucket) divides by
    exactly 0 and gets the 0.0 edge below, as the reference does.

An empty weight denominator gives value 0.0 (the reference's
sum(na.rm=TRUE)-over-empty edge, coalesce to 0.0).

Skew: a hot bucket (a viral domain/hour) does not funnel its rows into one
reducer, because the groupBy aggregates map-side (partial_sum) before it
shuffles — each map task ships at most one partial row per (bucket,
lexicon, feature) key it saw (pinned by
test_plans::test_doc_aggregation_skew_ships_partials).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_FNS = {"hour", "day", "week", "month", "year"}

MEASURE_KEYS = ["lexicon", "feature"]

BUCKET_RELATIVE_HOWS = ("exponential", "inverseExponential")

PARTIAL_COLS = ["wsum", "wden", "n_docs_in", "n_docs"]

EXP_PARTIAL_COLS = ["s_sum", "wcs_sum", "wc_in", "n_docs_in", "n_docs", "bucket_wc"]

# do.ignoreZeros zero detection: the reference compares doubles to exact 0
# (/root/reference/R/sentomeasures_main.R:379-384); we use a tolerance so
# that "zero by cancellation" is engine-independent (floating-point sum
# order would otherwise flip documents in/out of the weight denominators).
ZERO_EPS = 1e-12


def _ignore_zeros(score: Column) -> Column:
    return F.when(F.abs(score) < ZERO_EPS, F.lit(None)).otherwise(score)


def bucket_col(ts: Column, by: str) -> Column:
    """A1: date bucketing. Spark date_trunc('week') is ISO Monday-start,
    matching ISOweek2date (/root/reference/R/sentomeasures_main.R:371-373)."""
    if by not in BUCKET_FNS:
        raise ValueError(f"unknown bucket: {by}")
    return F.date_trunc(by, ts)


def bucket_word_count(s: DataFrame, alias: str = "__bucket_wc") -> DataFrame:
    """W: per-bucket total word count over distinct documents of a
    bucket_ts-stamped sentiment frame."""
    return (
        s.select("url", "bucket_ts", "word_count")
        .distinct()
        .groupBy("bucket_ts")
        .agg(F.sum("word_count").cast("double").alias(alias))
    )


def _weight_numerator(how: str) -> Column:
    """num_d of the module docstring; the exponential pair reads W from
    ``__bucket_wc``."""
    wc = F.col("word_count").cast("double")
    if how == "equal_weight":
        return F.lit(1.0)
    if how == "proportional":
        return wc
    if how == "inverseProportional":
        # null for zero-token docs: double division is non-ANSI here and
        # 1/0 = Infinity would poison the bucket's wsum/wden when
        # do_ignore_zeros=False; a null weight drops the doc cleanly.
        return F.when(wc > 0, F.lit(1.0) / wc)
    if how == "exponential":
        return wc - F.col("__bucket_wc")
    if how == "inverseExponential":
        return F.col("__bucket_wc") - wc
    raise ValueError(f"unknown docs how: {how}")


def partial_cols(tier: DataFrame) -> list[str]:
    """The partial sums a tier carries: the bucket-relative set when it
    has ``bucket_wc``, the (wsum, wden) set otherwise."""
    return EXP_PARTIAL_COLS if "bucket_wc" in tier.columns else PARTIAL_COLS


def _value(pcols: list[str]) -> Column:
    """The finalized weighted mean of a partial set (module docstring)."""
    if "bucket_wc" in pcols:
        w = F.col("bucket_wc")
        num = F.col("wcs_sum") - w * F.col("s_sum")
        den = F.col("wc_in") - w * F.col("n_docs_in")
    else:
        num, den = F.col("wsum"), F.col("wden")
    return F.coalesce(F.try_divide(num, den), F.lit(0.0))


def finalize(agg: DataFrame, pcols: list[str]) -> DataFrame:
    """(bucket_ts, lexicon, feature, value, *pcols) from grouped partials."""
    return agg.withColumn("value", _value(pcols)).select(
        "bucket_ts", *MEASURE_KEYS, "value", *pcols
    )


def aggregate_docs(
    sentiment: DataFrame,
    by: str = "day",
    how: str = "equal_weight",
    do_ignore_zeros: bool = True,
    keep_partials: bool = True,
) -> DataFrame:
    """sentiment: long table (url, warc_ts, [lang,] word_count, lexicon,
    feature, score) -> measures (bucket_ts, lexicon, feature, value
    [, partials]); the partial set follows the scheme (module docstring)."""
    s = sentiment.withColumn("bucket_ts", bucket_col(F.col("warc_ts"), by))
    score = _ignore_zeros(F.col("score")) if do_ignore_zeros else F.col("score")
    counts = [
        F.count(F.when(score.isNotNull(), 1)).alias("n_docs_in"),
        F.count("*").alias("n_docs"),
    ]
    groups = s.groupBy("bucket_ts", *MEASURE_KEYS)

    if how in BUCKET_RELATIVE_HOWS:
        wc = F.col("word_count").cast("double")
        agg = (
            groups.agg(
                F.sum(score).alias("s_sum"),
                F.sum(wc * score).alias("wcs_sum"),
                F.sum(F.when(score.isNotNull(), wc)).alias("wc_in"),
                *counts,
            )
            .join(bucket_word_count(s, "bucket_wc"), "bucket_ts")
            .na.fill(0.0, ["s_sum", "wcs_sum", "wc_in"])
        )
        out = finalize(agg, EXP_PARTIAL_COLS)
    else:
        num_eff = F.when(score.isNotNull(), _weight_numerator(how))  # non-null set only
        agg = groups.agg(
            F.sum(num_eff * score).alias("wsum"),
            F.sum(num_eff).alias("wden"),
            *counts,
        )
        out = finalize(agg, PARTIAL_COLS)
    return out if keep_partials else out.select("bucket_ts", *MEASURE_KEYS, "value")


def aggregate_sentences(
    sentiment: DataFrame,
    how: str = "equal_weight",
    do_ignore_zeros: bool = True,
) -> DataFrame:
    """O4: sentence -> document roll-up (aggregate_sentences,
    /root/reference/R/sentomeasures_main.R:336-353): per-document weights
    from the same weights_across schemes with by=id; value = sum(w*s) over
    the document's sentences; word_count = sum of sentence word counts.

    With do.ignoreZeros, zero-score sentences drop out of the weights via
    the reference's (x*num)/x NaN trick — here an explicit null-out."""
    score = _ignore_zeros(F.col("score")) if do_ignore_zeros else F.col("score")
    num_eff = F.when(score.isNotNull(), _weight_numerator(how))

    # the document is the exponential pair's bucket: its word count (over
    # distinct sentences) is both W and the output word_count
    doc_wc = (
        sentiment.select("url", "sentence_id", "word_count")
        .distinct()
        .groupBy("url")
        .agg(F.sum("word_count").alias("__bucket_wc"))
    )
    agg = sentiment.join(doc_wc, "url").groupBy("url", *MEASURE_KEYS).agg(
        F.first("warc_ts").alias("warc_ts"),
        F.first("lang").alias("lang"),
        F.first("__bucket_wc").alias("word_count"),
        F.coalesce(F.try_divide(F.sum(num_eff * score), F.sum(num_eff)), F.lit(0.0)).alias("score"),
    )
    return agg.select("url", "warc_ts", "lang", "word_count", *MEASURE_KEYS, "score")


def doc_weights(
    sentiment: DataFrame,
    by: str = "day",
    how: str = "equal_weight",
    do_ignore_zeros: bool = True,
) -> DataFrame:
    """attribWeights$W analogue: the realized per-document weight for each
    (bucket, lexicon, feature) measure (/root/reference/R/sentomeasures_main.R:393-395).
    Window-normalized: w = num / sum(num) over the bucket's non-null set."""
    s = sentiment.withColumn("bucket_ts", bucket_col(F.col("warc_ts"), by))
    return with_doc_weights(s, how, do_ignore_zeros).select(
        "url", "bucket_ts", *MEASURE_KEYS, "weight"
    )


def with_doc_weights(
    sentiment_bucketed: DataFrame,
    how: str = "equal_weight",
    do_ignore_zeros: bool = True,
) -> DataFrame:
    """The doc_weights values APPENDED to a (already bucket_ts-stamped)
    sentiment frame — same weights, but the score column stays on the
    row, so a consumer that needs weight x score (attribution) does not
    re-join two doc-sized tables on (url, bucket_ts, measure keys).

    The per-(bucket, measure) weight-sum denominator is PANEL-sized, so
    it is computed as a map-side partial aggregation and broadcast back —
    no doc-wide shuffle at all (a window over (bucket_ts, measure keys)
    would sort every sentiment row; same panel-altitude broadcast
    assumption as measures_fill's grid spine)."""
    s = sentiment_bucketed
    if how in BUCKET_RELATIVE_HOWS:
        doc_wc = bucket_word_count(s).withColumnRenamed("bucket_ts", "__wc_bucket_ts")
        # null-SAFE equi-join (ADVICE r5): groupBy keeps the NULL-bucket
        # group, and <=> lets those rows pick their denominator up — a
        # plain equi-join dropped NULL-bucket rows here before the
        # null-safe weight-denominator join below ever saw them
        s = s.join(
            F.broadcast(doc_wc),
            F.col("bucket_ts").eqNullSafe(F.col("__wc_bucket_ts")),
        ).drop("__wc_bucket_ts")
    score = _ignore_zeros(F.col("score")) if do_ignore_zeros else F.col("score")
    num = F.when(score.isNotNull(), _weight_numerator(how))
    keys = ["bucket_ts", *MEASURE_KEYS]
    # groupBy keeps NULL-key groups and the join back is NULL-SAFE, so a
    # row with a NULL bucket or measure key still normalizes within its
    # own (NULL, ...) group — exactly the Window.partitionBy semantics
    # this formulation replaced (a plain equi-join would silently drop
    # those rows: NULL never equi-matches)
    den = (
        s.groupBy(*keys)
        .agg(F.sum(num).alias("__den"))
        .select(*[F.col(k).alias(f"__k_{i}") for i, k in enumerate(keys)], "__den")
    )
    cond = None
    for i, k in enumerate(keys):
        c = F.col(k).eqNullSafe(F.col(f"__k_{i}"))
        cond = c if cond is None else cond & c
    out = (
        s.join(F.broadcast(den), cond)
        .withColumn("weight", F.try_divide(num, F.col("__den")))
        .drop("__den", *[f"__k_{i}" for i in range(len(keys))])
    )
    return out.drop("__bucket_wc") if "__bucket_wc" in out.columns else out
