"""Prediction attribution (R8): decompose model predictions back to
documents, lags, lexicons, features, and time-weighting schemes
(attributions, /root/reference/R/attribution.R:109-223).

For a model prediction at bucket t:

    pred_t - b0 = sum_m coef_m * measure_{m,t}
    measure_{m,t} = sum_i B_tw(m)[i] * docagg_{lex(m),feat(m), t-(lag-1)+i}
    docagg_{lf,b} = sum_d W_{d,b,lf} * s_{d,lf}

so each decomposition regroups the same triple sum; the four roll-ups must
reconcile per date (reference invariant,
/root/reference/tests/testthat/test_attribution.R:47-60).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sentometrics_spark.aggregate.doc_agg import MEASURE_KEYS


def coef_df(spark, coefs: pd.Series) -> DataFrame:
    """Coefficient series indexed by 'lexicon--feature--timeweight'."""
    rows = []
    for name, c in coefs.items():
        lx, f, tw = name.split("--")
        rows.append((lx, f, tw, float(c)))
    return spark.createDataFrame(rows, "lexicon string, feature string, timeweight string, coef double")


def _indexed(filled: DataFrame) -> DataFrame:
    w = Window.partitionBy(*MEASURE_KEYS).orderBy("bucket_ts")
    return filled.withColumn("rn", F.row_number().over(w))


def kernel_df(spark, kernels: dict[str, np.ndarray], lag: int) -> DataFrame:
    rows = [
        (tw, i, float(w[i]))  # i = 0 is the most lagged position
        for tw, w in kernels.items()
        for i in range(lag)
    ]
    return spark.createDataFrame(rows, "timeweight string, lag_index int, kw double")


def _l2_normalize(df: DataFrame, date_col: str, value_col: str = "attrib") -> DataFrame:
    """do.normalize: divide each date's attributions by their L2 norm
    across the dimension members; zero-norm rows become 0, matching the
    reference's NaN-to-zero pass (/root/reference/R/attribution.R:80-86,
    101-107)."""
    w = Window.partitionBy(date_col)
    norm = F.sqrt(F.sum(F.col(value_col) * F.col(value_col)).over(w))
    return df.withColumn(
        value_col, F.coalesce(F.try_divide(F.col(value_col), norm), F.lit(0.0))
    )


def attributions_dims(
    measures: DataFrame, coefs: DataFrame, dim: str, do_normalize: bool = False
) -> DataFrame:
    """Per-lexicon / per-feature / per-timeweight attribution
    (attributions_dims, /root/reference/R/attribution.R:88-107)."""
    if dim not in ("lexicon", "feature", "timeweight"):
        raise ValueError(dim)
    out = (
        measures.join(F.broadcast(coefs), MEASURE_KEYS + ["timeweight"])
        .groupBy("bucket_ts", dim)
        .agg(F.sum(F.col("coef") * F.col("value")).alias("attrib"))
    )
    return _l2_normalize(out, "bucket_ts") if do_normalize else out


def attributions_lags(
    filled_docagg: DataFrame,
    coefs: DataFrame,
    kernels: dict[str, np.ndarray],
    lag: int,
    do_normalize: bool = False,
) -> DataFrame:
    """Per-lag attribution (attributions_lags,
    /root/reference/R/attribution.R:29-86): contribution of the bucket
    lagged (lag-1-i) steps behind each prediction date."""
    spark = filled_docagg.sparkSession
    idx = _indexed(filled_docagg)
    kdf = kernel_df(spark, kernels, lag)
    # target rn = src rn + (lag-1 - lag_index)
    contrib = (
        idx.alias("src")
        .join(F.broadcast(kdf), F.lit(True))
        .withColumn("tgt_rn", F.col("rn") + (F.lit(lag - 1) - F.col("lag_index")))
        .join(F.broadcast(coefs), MEASURE_KEYS + ["timeweight"])
        .withColumn("part", F.col("coef") * F.col("kw") * F.col("value"))
    )
    tgt = F.broadcast(
        idx.select(
            *MEASURE_KEYS, F.col("rn").alias("tgt_rn"), F.col("bucket_ts").alias("pred_ts")
        ).dropDuplicates(["tgt_rn", *MEASURE_KEYS])
    )
    out = (
        contrib.join(tgt, ["tgt_rn", *MEASURE_KEYS])
        .filter(F.col("tgt_rn") >= lag)
        .groupBy("pred_ts", "lag_index")
        .agg(F.sum("part").alias("attrib"))
    )
    return _l2_normalize(out, "pred_ts") if do_normalize else out


def attributions_docs(
    sentiment: DataFrame,
    weights: DataFrame | None,
    filled_docagg: DataFrame,
    coefs: DataFrame,
    kernels: dict[str, np.ndarray],
    lag: int,
    by: str,
    how: str = "equal_weight",
    do_ignore_zeros: bool = True,
    common_spine: bool = True,
) -> DataFrame:
    """Per-document attribution (attributions_docs,
    /root/reference/R/attribution.R:2-27): coef x kernel weight x document
    weight x document sentiment, rolled to each prediction date the
    document's bucket feeds.

    The output groups by (pred_ts, url), so the timeweight dimension is
    fully summed out — the coef x kernel product contracts driver-free
    into one tiny (lexicon, feature, lag_index) -> cw = sum_tw coef*kw
    table before touching the doc-sized side. One broadcast equi-join
    then explodes each doc row into its `lag` target positions: exploded
    rows are O(docs x lag), independent of the number of timeweight
    schemes, and the plan has no nested-loop join at all (the previous
    per-timeweight union re-scanned the doc subtree T times and fanned
    out docs x T x lag rows through a BroadcastNestedLoopJoin).

    weights: a stored attribWeights$W table (reference parity — joined to
    the sentiment on (url, bucket_ts, measure keys), a doc-sized
    SortMergeJoin), or None to derive the realized weights INLINE from
    the sentiment itself via the doc_weights window (``how`` and
    ``do_ignore_zeros`` as in
    :func:`~sentometrics_spark.aggregate.doc_agg.doc_weights`). The
    inline form is the scale path when W is not pre-materialized: the
    weights derive from the sentiment rows themselves (panel-sized
    denominator aggregate broadcast back), removing the doc x doc join
    (same values either way).

    common_spine (default True): when every measure shares one bucket
    spine — true for ANY panel built by measures_fill — the measure
    dimension is contracted out per (url, rn) BEFORE the lag fan-out
    (lag plain-double partial sums), so the heavy aggregation consumes
    doc-sized rows and no exchange carries string measure keys or
    docs x lag exploded rows. Pass False for irregular per-measure
    spines to use the general per-measure join path."""
    from sentometrics_spark.aggregate.doc_agg import bucket_col

    spark = sentiment.sparkSession
    # with a src_ts column (measures_fill(keep_source=True)), a LOCF-filled
    # slot routes back to the OBSERVED bucket whose documents produced its
    # carried value (fill='latest' reconstruction,
    # /root/reference/R/attribution.R:49-68); each document then feeds every
    # prediction its bucket's value reaches, directly or carried.
    has_src = "src_ts" in filled_docagg.columns
    doc_join_ts = F.col("src_ts") if has_src else F.col("bucket_ts")
    # the panel index joins are BROADCAST explicitly: filled_docagg is
    # #buckets x #measures rows (the same panel-altitude assumption as
    # measures_fill's broadcast grid spine), but its size estimate after
    # window + spine-explode is unknown to Catalyst, which otherwise
    # plans SortMergeJoins — shuffling the doc-sized (and worse, the
    # exploded docs x lag) side against a KB-sized spine. Measured on the
    # 10M-row scaling probe: the tgt SMJ alone re-shuffled all exploded
    # rows.
    idx = F.broadcast(
        _indexed(filled_docagg).select(
            *MEASURE_KEYS, doc_join_ts.alias("bucket_ts"), "rn"
        )
    )
    # contract timeweight out: cw(lexicon, feature, lag_index). A
    # (lex, feat, tw) absent from coefs contributes nothing (the previous
    # pivot coalesced it to 0); a (lex, feat) absent entirely yields no cw
    # row, so its docs drop — same as the previous inner pivot join.
    kdf = kernel_df(spark, kernels, lag)
    cw = (
        kdf.join(coefs, ["timeweight"])
        .groupBy(*MEASURE_KEYS, "lag_index")
        .agg(F.sum(F.col("coef") * F.col("kw")).alias("cw"))
    )
    s = sentiment.withColumn("bucket_ts", bucket_col(F.col("warc_ts"), by))
    if weights is None:
        from sentometrics_spark.aggregate.doc_agg import with_doc_weights

        sw = with_doc_weights(s, how, do_ignore_zeros)
    else:
        # doc-sized x doc-sized equi-join; sort-merge is deliberate — a
        # shuffled-hash build of the weights side was A/B-measured SLOWER
        # here (hash-table build on the near-unique key costs more than
        # the two sorts it saves; round-6 measurement, OPTIMIZATION_r06.md)
        sw = s.join(weights, ["url", "bucket_ts", *MEASURE_KEYS])
    if common_spine:
        # contract MEASURES out before any fan-out: per (url, rn) the
        # measure sum folds into lag plain-double columns
        #   __c[i] = sum_lf weight*score*cw(lf, i)
        # so the heavy aggregation consumes the doc-sized table (no
        # docs x lag explosion, no string measure keys in the exchange)
        # and the lag fan-out happens AFTER it, on docs-sized output.
        # Requires the rn -> bucket_ts map to be measure-independent —
        # guaranteed for any panel built by measures_fill (one common
        # spine crossJoined to the measure dims); pass
        # common_spine=False for irregular per-measure spines.
        cw_arr = cw.groupBy(*MEASURE_KEYS).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lag_index", "cw"))),
                lambda s_: s_["cw"],
            ).alias("cw_arr")
        )
        base = sw.join(idx, ["bucket_ts", *MEASURE_KEYS]).join(
            F.broadcast(cw_arr), MEASURE_KEYS, "inner"
        )
        sums = [
            F.sum(F.col("weight") * F.col("score") * F.col("cw_arr")[i]).alias(f"__c{i}")
            for i in range(lag)
        ]
        docvec = base.groupBy("url", "rn").agg(*sums)
        parts = (
            docvec.select(
                "url",
                "rn",
                F.posexplode(
                    F.array(*[F.col(f"__c{i}") for i in range(lag)])
                ).alias("lag_index", "part"),
            )
            .withColumn("tgt_rn", F.col("rn") + (F.lit(lag - 1) - F.col("lag_index")))
            .select("url", "tgt_rn", "part")
        )
        # executor-side guard (the interval_join pattern — assert_true
        # gates the value so pruning can't drop it): the fast path is
        # only sound when rn -> bucket_ts is measure-independent; an
        # irregular per-measure spine fails LOUDLY instead of silently
        # mixing prediction dates
        tgt = F.broadcast(
            _indexed(filled_docagg)
            .groupBy(F.col("rn").alias("tgt_rn"))
            .agg(F.collect_set("bucket_ts").alias("__ts"))
            .select(
                "tgt_rn",
                F.when(
                    F.assert_true(
                        F.size("__ts") == 1,
                        "attributions_docs(common_spine=True) requires every "
                        "measure to share one bucket spine (any measures_fill "
                        "panel does); pass common_spine=False for irregular "
                        "per-measure spines",
                    ).isNull(),
                    F.element_at("__ts", 1),
                ).alias("pred_ts"),
            )
        )
        return (
            parts.join(tgt, ["tgt_rn"])
            .filter(F.col("tgt_rn") >= lag)
            # a url can hold several rn slots (multi-slot src_ts routing
            # under fill='latest'), and distinct (rn, lag_index) pairs can
            # land on the same prediction — the final fold stays
            .groupBy("pred_ts", "url")
            .agg(F.sum("part").alias("attrib"))
        )
    parts = (
        sw.join(idx, ["bucket_ts", *MEASURE_KEYS])
        # broadcast equi-join fans each doc row out to its lag positions:
        # doc bucket at rn feeds prediction at rn + (lag-1-lag_index)
        .join(F.broadcast(cw), MEASURE_KEYS, "inner")
        .withColumn("tgt_rn", F.col("rn") + (F.lit(lag - 1) - F.col("lag_index")))
        .withColumn("part", F.col("cw") * F.col("weight") * F.col("score"))
        .select("url", *MEASURE_KEYS, "tgt_rn", "part")
    )
    tgt = F.broadcast(
        _indexed(filled_docagg).select(
            *MEASURE_KEYS, F.col("rn").alias("tgt_rn"), F.col("bucket_ts").alias("pred_ts")
        ).dropDuplicates(["tgt_rn", *MEASURE_KEYS])
    )
    return (
        parts.join(tgt, ["tgt_rn", *MEASURE_KEYS])
        .filter(F.col("tgt_rn") >= lag)
        .groupBy("pred_ts", "url")
        .agg(F.sum("part").alias("attrib"))
    )
