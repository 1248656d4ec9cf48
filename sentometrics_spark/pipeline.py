"""End-to-end pipeline: the analogue of
``sento_measures(corpus, lexicons, ctr)``
(/root/reference/R/sentomeasures_main.R:245-251; lifecycle SURVEY.md §3).

One lazy DataFrame DAG:

    corpus -> compute_sentiment (one Arrow-UDF pass, scoring/udf_engine.py)
           -> aggregate_docs    (shuffle 1: (bucket, lexicon, feature))
           -> measures_fill     (spine join)
           -> aggregate_time    (shuffle 2: window partition by series)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
from sentometrics_spark.config import AggSpec
from sentometrics_spark.lexicons import Lexicons
# compute_sentiment (C9) is the Arrow-UDF engine itself: it covers every
# (how, mode), so the public name needs no dispatcher in front of it.
from sentometrics_spark.scoring.udf_engine import (
    compute_sentiment_udf as compute_sentiment,
)


@dataclass
class SentoMeasures:
    """Bundle mirroring the reference's sento_measures list
    (/root/reference/R/sentomeasures_main.R:206-220), long-format."""

    measures: DataFrame  # (bucket_ts, lexicon, feature, timeweight, value)
    sentiment: DataFrame  # doc-level long sentiment
    kernels: dict[str, np.ndarray]  # attribWeights$B
    spec: AggSpec

    @property
    def dimensions(self) -> dict[str, list[str]]:
        rows = (
            self.measures.select("lexicon", "feature", "timeweight").distinct().collect()
        )
        return {
            "lexicons": sorted({r["lexicon"] for r in rows}),
            "features": sorted({r["feature"] for r in rows}),
            "time": sorted({r["timeweight"] for r in rows}),
        }

    def nmeasures(self) -> int:
        return self.measures.select("lexicon", "feature", "timeweight").distinct().count()

    def nobs(self) -> int:
        return self.measures.select("bucket_ts").distinct().count()

    def summary(self) -> dict:
        """M10: print/summary introspection (reference print.sento_measures /
        summary, /root/reference/R/sentomeasures_methods.R:215-269)."""
        from pyspark.sql import functions as F

        dims = self.dimensions
        span = self.measures.agg(
            F.min("bucket_ts").alias("first"), F.max("bucket_ts").alias("last")
        ).collect()[0]
        return {
            "by": self.spec.by,
            "lag": self.spec.lag,
            "fill": self.spec.fill,
            "how_within": self.spec.how_within,
            "how_docs": self.spec.how_docs,
            "dimensions": dims,
            "nmeasures": len(dims["lexicons"]) * len(dims["features"]) * len(dims["time"]),
            "nobs": self.nobs(),
            "first_bucket": str(span["first"]),
            "last_bucket": str(span["last"]),
        }


def _measures(
    sentiment: DataFrame, kernels: dict[str, np.ndarray], spec: AggSpec
) -> SentoMeasures:
    """The shared tail: aggregate_docs -> measures_fill -> aggregate_time."""
    measures_doc = aggregate_docs(
        sentiment,
        by=spec.by,
        how=spec.how_docs,
        do_ignore_zeros=spec.do_ignore_zeros,
        keep_partials=False,
    )
    # the bucketed panel is tiny (#buckets x #measures); persist it so the
    # spine-fill (which scans it three times: bounds, dims, join) and the
    # rolling window do not re-execute the full corpus-scoring DAG
    measures_doc = measures_doc.persist()
    filled = measures_fill(measures_doc, by=spec.by, fill=spec.fill)
    measures = aggregate_time(
        filled.select("bucket_ts", "lexicon", "feature", "value"), kernels, spec.lag
    )
    return SentoMeasures(measures=measures, sentiment=sentiment, kernels=kernels, spec=spec)


def sento_measures(
    pages: DataFrame,
    lexicons: Lexicons,
    spec: AggSpec,
    mode: str | None = None,
) -> SentoMeasures:
    sentiment = compute_sentiment(pages, lexicons, spec.how_within, mode=mode)
    if spec.lag == 1:
        # lag = 1 means no time aggregation: the reference replaces the
        # requested schemes with one 'dummyTime' identity kernel
        # (ctr_agg, /root/reference/R/sentomeasures_main.R:107-110)
        kernels = {"dummyTime": np.ones(1)}
    else:
        kernels = setup_time_weights(spec.time_kernels, spec.lag)
    return _measures(sentiment, kernels, spec)


def measures_update(
    sm: SentoMeasures,
    pages_incoming: DataFrame,
    lexicons: Lexicons,
    mode: str | None = None,
) -> SentoMeasures:
    """M8: incremental recompute — score only documents whose url is not in
    the existing sentiment table (left_anti by id), merge with the retained
    doc-level scores, re-run the aggregation with the stored spec
    (measures_update, /root/reference/R/sentomeasures_measures_xyz.R:158-176).
    At scale, this is the batch face of the checkpoint/resume design
    (storage/checkpoint.py) and of the streaming partials table."""
    existing_ids = sm.sentiment.select("url").distinct()
    new_pages = pages_incoming.join(existing_ids, "url", "left_anti")
    new_sent = compute_sentiment(new_pages, lexicons, sm.spec.how_within, mode=mode)
    return _measures(sm.sentiment.unionByName(new_sent), sm.kernels, sm.spec)
