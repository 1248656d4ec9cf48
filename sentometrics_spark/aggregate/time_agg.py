"""Across-time aggregation: gap fill (K5), rolling weighted kernels (K6),
panel stats (K7).

Reference semantics:
  - measures_fill  /root/reference/R/sentomeasures_measures_xyz.R:41-81
    (continuous date spine; NA -> 0 or last-obs-carried-forward via C++
    fill_NAs /root/reference/src/fill_NAs.cpp:7-24)
  - aggregate_time /root/reference/R/sentomeasures_main.R:406-453
    (RcppRoll::roll_sum right-aligned, na.rm=TRUE, first lag-1 rows dropped)
  - compute_stats  /root/reference/R/utils.R:371-387

The rolling weighted sum has two physical strategies (same semantics,
``aggregate_time(strategy=)``):

  - ``window`` — a single Window operator per series:
    sum_k B[lag-1-k] * lag(value, k). One sort per (lexicon, feature)
    partition, no extra shuffle per kernel, all kernels evaluated in the
    same window pass; the per-kernel sum is a BALANCED pairwise tree
    (a left-deep a+b+c+... chain overflows the driver stack around
    lag ~1000 — Catalyst tree analysis is recursive). The plan still
    carries O(lag x n_kernels) expression nodes, so plan ANALYSIS time
    grows linearly (~12 s per 1000 lag positions measured on this box)
    while execution stays the fastest form up to lag ~1000 (3.2M-row
    panel, local[32]: 5.1 s vs join's 11.8 s at lag 24; 15.7 vs 47.3 at
    lag 200; 202 vs 246 at lag 1000).
  - ``join`` — one row_number window, then each observation is fanned out
    to the <= lag target positions it feeds via a broadcast
    (timeweight, offset, weight) table (O(n_kernels x lag) rows) and
    re-aggregated per (series, timeweight, target). Plan size and
    planning time are INDEPENDENT of lag (~0.3 s at any lag measured);
    costs one extra panel-altitude shuffle (the groupBy) and ~1.2-3x the
    execution of the window form. The fan-out mirrors attributions_docs'
    kernel join.

``auto`` (default) picks window for lag <= 512, join beyond: by lag 512
the window form's execution edge has shrunk to ~constant factors while
its O(lag) planning cost keeps growing; past ~512 the join's flat ~0.3 s
planning and bounded plan size win on any realistic panel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SERIES_KEYS = ["lexicon", "feature"]

# aggregate_time(strategy="auto") uses the window form up to this lag and the
# join form beyond it (module docstring)
K6_CROSSOVER_LAG = 512

_STEP = {
    "hour": "interval 1 hour",
    "day": "interval 1 day",
    "week": "interval 7 days",
    "month": "interval 1 month",
    "year": "interval 1 year",
}


def measures_fill(
    measures: DataFrame,
    by: str = "day",
    fill: str = "zero",
    date_before: str | None = None,
    date_after: str | None = None,
    series_keys: list[str] | None = None,
    keep_source: bool = False,
) -> DataFrame:
    """K5: left-join measures onto a continuous bucket spine per series.

    keep_source adds a ``src_ts`` column: the OBSERVED bucket whose value a
    filled row carries (itself for observed rows; the LOCF source under
    fill='latest'; null for zero-filled gaps). Per-document attribution
    needs it to route a carried value back to the documents that produced
    it (the reference's fill='latest' lag reconstruction,
    /root/reference/R/attribution.R:49-68)."""
    if fill == "none":
        return measures
    if fill not in ("zero", "latest", "linear"):
        raise ValueError("fill must be one of zero|latest|linear|none")
    keys = series_keys if series_keys is not None else SERIES_KEYS
    step = _STEP[by]

    bounds = measures.agg(
        F.min("bucket_ts").alias("mn"), F.max("bucket_ts").alias("mx")
    )
    if date_before is not None:
        bounds = bounds.withColumn(
            "mn", F.least("mn", F.date_trunc(by, F.lit(date_before).cast("timestamp")))
        )
    if date_after is not None:
        bounds = bounds.withColumn(
            "mx", F.greatest("mx", F.date_trunc(by, F.lit(date_after).cast("timestamp")))
        )
    spine = bounds.select(
        F.explode(F.expr(f"sequence(mn, mx, {step})")).alias("bucket_ts")
    )
    dims = measures.select(*keys).distinct()
    grid = spine.crossJoin(F.broadcast(dims))

    filled = grid.join(measures, ["bucket_ts", *keys], "left")
    src = F.when(F.col("value").isNotNull(), F.col("bucket_ts"))
    if fill == "linear":
        # beyond-reference fill: gaps STRICTLY BETWEEN observations take the
        # time-proportional line between their neighbours; head/tail gaps
        # carry the nearest observation flat (pandas interpolate with
        # limit_direction='both' semantics). Two window passes per series
        # (backward + forward neighbour), same single spine shuffle as
        # zero/latest; interpolated rows keep src_ts NULL — their value
        # belongs to no single observed bucket.
        wb = (
            Window.partitionBy(*keys)
            .orderBy("bucket_ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wf = (
            Window.partitionBy(*keys)
            .orderBy("bucket_ts")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        obs = F.when(F.col("value").isNotNull(), F.struct(
            F.col("bucket_ts").cast("timestamp").alias("ts"), F.col("value").alias("v")
        ))
        pv = F.last(obs, ignorenulls=True).over(wb)
        nv = F.first(obs, ignorenulls=True).over(wf)
        us = lambda c: F.unix_micros(c.cast("timestamp"))
        frac = (
            (us(F.col("bucket_ts")) - us(pv["ts"])).cast("double")
            / (us(nv["ts"]) - us(pv["ts"])).cast("double")
        )
        interp = (
            F.when(F.col("value").isNotNull(), F.col("value"))
            .when(pv.isNull(), nv["v"])
            .when(nv.isNull(), pv["v"])
            .otherwise(pv["v"] + (nv["v"] - pv["v"]) * frac)
        )
        out = filled.withColumn("src_ts", src) if keep_source else filled
        return out.withColumn("value", interp)
    if fill == "zero":
        # src_ts BEFORE the coalesce overwrites value, so zero-filled gap
        # rows keep src_ts null (the column's contract)
        out = filled.withColumn("src_ts", src) if keep_source else filled
        return out.withColumn("value", F.coalesce("value", F.lit(0.0)))
    # latest: last-observation-carried-forward per series
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = filled
    if keep_source:
        out = out.withColumn("src_ts", F.last(src, ignorenulls=True).over(w))
    out = out.withColumn("value", F.last("value", ignorenulls=True).over(w))
    if date_before is not None:
        # reference back-fills the stretched head with the first observed row
        # (/root/reference/R/sentomeasures_measures_xyz.R:70)
        wf = (
            Window.partitionBy(*keys)
            .orderBy("bucket_ts")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        if keep_source:
            out = out.withColumn(
                "src_ts",
                F.coalesce("src_ts", F.first("src_ts", ignorenulls=True).over(wf)),
            )
        out = out.withColumn(
            "value", F.coalesce("value", F.first("value", ignorenulls=True).over(wf))
        )
    return out


def aggregate_time(
    measures: DataFrame,
    kernels: dict[str, np.ndarray],
    lag: int,
    series_keys: list[str] | None = None,
    check_lag: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """K6: right-aligned rolling weighted sum per kernel; rows with fewer
    than ``lag`` predecessors are dropped. Input: (bucket_ts, *keys, value).
    Output: (bucket_ts, *keys, timeweight, value).

    check_lag: like the reference, error out when the window exceeds the
    number of observations per measure (/root/reference/R/sentomeasures_main.R:431-432)
    instead of silently returning an empty panel. Costs one count job;
    disable for fully-lazy pipelines.

    strategy: 'window' (lag-column expansion, one pass, plan grows with
    lag), 'join' (broadcast kernel-position fan-out + re-aggregate,
    bounded plan at any lag), or 'auto' (window for lag <=
    ``K6_CROSSOVER_LAG`` — see the module docstring for the measured value).
    Both are positional (row-based) over the filled spine and produce
    identical values up to float summation order."""
    if strategy not in ("auto", "window", "join"):
        raise ValueError(f"unknown aggregate_time strategy: {strategy!r}")
    keys = series_keys if series_keys is not None else SERIES_KEYS
    if check_lag and lag > 1:
        m = measures.select("bucket_ts").distinct().count()
        if lag > m:
            raise ValueError(
                f"rolling time aggregation window (= {lag}) is too large for "
                f"number of observations per measure (= {m})"
            )
    if strategy == "join" or (strategy == "auto" and lag > K6_CROSSOVER_LAG):
        return _aggregate_time_join(measures, kernels, lag, keys)
    if lag == 1:
        # all kernels are the scalar weight B[0]
        sel = []
        for name, ker in kernels.items():
            sel.append((F.col("value") * float(ker[0])).alias(name))
        wide = measures.select("bucket_ts", *keys, *sel)
    else:
        w = Window.partitionBy(*keys).orderBy("bucket_ts")
        rn = F.row_number().over(w)
        lag_cols = [F.coalesce(F.lag("value", k).over(w), F.lit(0.0)) for k in range(lag)]
        sel = []
        for name, ker in kernels.items():
            # balanced pairwise reduction: a left-deep a+b+c+... chain of
            # O(lag) depth overflows the driver stack (Catalyst tree
            # analysis is recursive) around lag ~1000; the balanced tree
            # is depth log2(lag) and plans at any practical lag
            terms = [lag_cols[k] * float(ker[lag - 1 - k]) for k in range(lag)]
            while len(terms) > 1:
                terms = [
                    terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                    for i in range(0, len(terms), 2)
                ]
            sel.append(terms[0].alias(name))
        wide = (
            measures.select("bucket_ts", *keys, rn.alias("__rn"), *sel)
            .filter(F.col("__rn") >= lag)
            .drop("__rn")
        )
    names = list(kernels)
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    return wide.select(
        "bucket_ts",
        *keys,
        F.expr(f"stack({len(names)}, {stack}) AS (timeweight, value)"),
    )


def _aggregate_time_join(
    measures: DataFrame,
    kernels: dict[str, np.ndarray],
    lag: int,
    keys: list[str],
) -> DataFrame:
    """Kernel-join formulation of the K6 rolling weighted sum, for lags
    too large for lag-column expansion: index each series once
    (row_number), fan every observation out to the targets it feeds via a
    broadcast (timeweight, offset, weight) table, re-aggregate per
    (series, timeweight, target), and resolve targets back to timestamps
    on the panel spine. Exploded rows are O(panel x n_kernels x lag) but
    never materialize wide; the plan size is independent of lag."""
    spark = measures.sparkSession
    w = Window.partitionBy(*keys).orderBy("bucket_ts")
    idx = measures.select(
        "bucket_ts", *keys, "value", F.row_number().over(w).alias("__rn")
    )
    # src at rn feeds tgt = rn + d for d in [0, lag); the value sitting
    # d behind the target carries kernel weight B[lag-1-d] — identical
    # positional semantics to the window form's lag(value, k) * B[lag-1-k]
    pos = spark.createDataFrame(
        [
            (name, d, float(ker[lag - 1 - d]))
            for name, ker in kernels.items()
            for d in range(lag)
        ],
        "timeweight string, __d int, __w double",
    )
    contrib = (
        idx.crossJoin(F.broadcast(pos))
        .withColumn("__tgt", F.col("__rn") + F.col("__d"))
        .groupBy(*keys, "timeweight", "__tgt")
        # NULL parity with the window form: there each lag slot is
        # coalesced to 0.0, so a window of all-NULL values yields 0.0 —
        # sum() alone would yield NULL for an all-NULL group (partially
        # NULL windows already agree: a skipped NULL term == a 0 term)
        .agg(F.coalesce(F.sum(F.col("__w") * F.col("value")), F.lit(0.0)).alias("value"))
    )
    tgt = idx.select(*keys, F.col("__rn").alias("__tgt"), "bucket_ts")
    return (
        contrib.join(tgt, [*keys, "__tgt"])
        .filter(F.col("__tgt") >= lag)
        .select("bucket_ts", *keys, "timeweight", "value")
    )


def compute_stats(measures: DataFrame, series_keys: list[str] | None = None) -> DataFrame:
    """K7: per-measure mean/sd/max/min (distributed) — meanCorr is computed
    separately on the collected panel (see stats_with_mean_corr)."""
    keys = series_keys if series_keys is not None else [*SERIES_KEYS, "timeweight"]
    return measures.groupBy(*keys).agg(
        F.avg("value").alias("mean"),
        F.stddev("value").alias("sd"),
        F.max("value").alias("max"),
        F.min("value").alias("min"),
    )


def mean_corr_distributed(
    measures: DataFrame, series_keys: list[str] | None = None
) -> DataFrame:
    """meanCorr fully distributed: self-join the long panel on bucket_ts,
    Pearson corr per measure pair, then average over the other measures
    (/root/reference/R/utils.R:371-387 semantics — diagonal excluded).
    The join is on the bucket spine (#buckets x #measures rows), tiny
    relative to the corpus; no driver collect."""
    keys = series_keys if series_keys is not None else [*SERIES_KEYS, "timeweight"]
    m = measures.withColumn("__m", F.concat_ws("--", *keys))
    a = m.select("bucket_ts", *keys, F.col("__m").alias("__ma"), F.col("value").alias("__va"))
    b = m.select("bucket_ts", F.col("__m").alias("__mb"), F.col("value").alias("__vb"))
    pair_corr = (
        a.join(b, "bucket_ts")
        .filter(F.col("__ma") != F.col("__mb"))
        .groupBy(*keys, "__mb")
        .agg(F.corr("__va", "__vb").alias("c"))
    )
    # the reference drops every correlation EQUAL to 1 (not just the
    # diagonal) before averaging: corrs[corrs == 1] <- NA,
    # /root/reference/R/utils.R:381-383. Tested as |c-1| < 1e-12 rather
    # than exact equality: different engines' corr of a perfectly
    # proportional pair land 1 ulp apart, and the exclusion must not
    # depend on which side of the ulp you compute on.
    return pair_corr.groupBy(*keys).agg(
        F.avg(F.when(F.abs(F.col("c") - 1.0) >= 1e-12, F.col("c"))).alias("meanCorr")
    )


def stats_with_mean_corr(measures: DataFrame, series_keys: list[str] | None = None):
    """Full compute_stats incl. mean pairwise correlation
    (/root/reference/R/utils.R:371-387). The measures panel is small
    (#buckets x #measures), so the correlation matrix is computed on the
    collected pivot — a deliberate driver-side step, as in the reference."""
    import pandas as pd

    keys = series_keys if series_keys is not None else [*SERIES_KEYS, "timeweight"]
    pdf = measures.toPandas()
    pdf["__m"] = pdf[keys].astype(str).agg("--".join, axis=1)
    panel = pdf.pivot_table(index="bucket_ts", columns="__m", values="value")
    stats = pd.DataFrame(
        {
            "mean": panel.mean(),
            "sd": panel.std(),
            "max": panel.max(),
            "min": panel.min(),
        }
    )
    if panel.shape[1] > 1:
        corr = panel.corr()
        # reference: corrs[corrs == 1] <- NA (ALL exact-1 correlations,
        # not only the diagonal; /root/reference/R/utils.R:381-383);
        # |c-1| < 1e-12 so the rule is engine-ulp-independent
        corr.values[np.abs(corr.values - 1.0) < 1e-12] = np.nan
        stats["meanCorr"] = corr.mean(axis=1, skipna=True)
    return stats
