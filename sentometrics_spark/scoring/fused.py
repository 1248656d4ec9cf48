"""Fused scoring + map-side bucket pre-aggregation.

The standard pipeline emits one row per (document x lexicon x feature) into
a hash aggregate. At 10^12 documents that intermediate is ~6x10^12 rows;
Spark's partial aggregation already collapses it per task, but the rows
still have to be produced and fed through the aggregate operator.

This fused kernel performs the FIRST aggregation level inside the Arrow
batch itself: each batch reduces directly to
(bucket_ts, lexicon, feature, wsum, wden, n_docs_in, n_docs) partial rows —
O(buckets-touched x measures) per batch instead of O(docs x measures).
The downstream ``tiers.rollup`` then merges partials (associative), exactly
like the tier rollups and the streaming ingest. Scoring itself is the UDF
engine's front-end (``udf_engine.language_scorer``: same guards, same
broadcast, same TFIDF corpus stats), so only the bucket reduction is here.

Only the doc-LOCAL across-document weighting schemes are fusable
(equal_weight / proportional / inverseProportional): the (wsum, wden)
partials need each document's weight, and the exponential schemes' weights
depend on the bucket's total word count, which a batch holding part of a
bucket cannot know. Semantics match aggregate_docs up to float summation
order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sentometrics_spark.aggregate.doc_agg import ZERO_EPS
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.udf_engine import language_scorer

FUSABLE_DOC_HOWS = ("equal_weight", "proportional", "inverseProportional")

PARTIAL_SCHEMA = (
    "bucket_ts timestamp, lexicon string, feature string, "
    "wsum double, wden double, n_docs_in long, n_docs long"
)

_TRUNC = {"hour": "datetime64[h]", "day": "datetime64[D]"}


def score_to_bucket_partials(
    pages: DataFrame,
    lexicons: Lexicons,
    how_within: str = "proportional",
    how_docs: str = "proportional",
    by: str = "hour",
    do_ignore_zeros: bool = True,
    mode: str = "unigram",
    validate_langs: str = "fail",
) -> DataFrame:
    """One mapInPandas pass: score + reduce to bucket partials. Finalize
    with ``tiers.rollup(partials, by)``."""
    if how_docs not in FUSABLE_DOC_HOWS:
        raise ValueError(
            f"doc weighting '{how_docs}' is bucket-relative and cannot be fused; "
            f"use one of {FUSABLE_DOC_HOWS}"
        )
    if by not in _TRUNC:
        raise ValueError(f"fused path supports hour/day buckets, got: {by}")
    feats, lex_names, score_batch = language_scorer(
        pages, lexicons, how_within, mode, validate_langs=validate_langs
    )
    n_feat = len(feats)
    n_lex = len(lex_names)
    k = n_lex * n_feat
    trunc = _TRUNC[by]

    # measure-name columns, laid out lexicon-major like the score block
    lex_col = np.repeat(np.array(lex_names, dtype=object), n_feat)
    feat_col = np.tile(np.array(feats, dtype=object), n_lex)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = []
            for _lang, grp, lens, s_lf in score_batch(pdf):
                buckets = grp["warc_ts"].to_numpy().astype(trunc)
                ub, b_idx = np.unique(buckets, return_inverse=True)
                n_b = len(ub)

                wc = lens.astype(np.float64)
                if how_docs == "equal_weight":
                    num = np.ones(len(grp))
                elif how_docs == "proportional":
                    num = wc
                else:  # inverseProportional
                    # mask zero-token docs: 1/0 = inf would propagate NaN
                    # through np.add.at into the whole bucket's partials;
                    # aggregate_docs drops such docs (null weight), so must we.
                    num = np.where(wc > 0, 1.0 / np.where(wc > 0, wc, 1.0), 0.0)

                if do_ignore_zeros:
                    in_set = np.abs(s_lf) >= ZERO_EPS  # [n, K]
                else:
                    in_set = np.ones_like(s_lf, dtype=bool)
                num_eff = num[:, None] * in_set

                wsum = np.zeros((n_b, k))
                wden = np.zeros((n_b, k))
                n_in = np.zeros((n_b, k), dtype=np.int64)
                np.add.at(wsum, b_idx, num_eff * s_lf)
                np.add.at(wden, b_idx, num_eff)
                np.add.at(n_in, b_idx, in_set.astype(np.int64))
                n_docs = np.bincount(b_idx, minlength=n_b)

                parts.append(
                    pd.DataFrame(
                        {
                            "bucket_ts": np.repeat(ub, k).astype("datetime64[us]"),
                            "lexicon": np.tile(lex_col, n_b),
                            "feature": np.tile(feat_col, n_b),
                            "wsum": wsum.reshape(-1),
                            "wden": wden.reshape(-1),
                            "n_docs_in": n_in.reshape(-1),
                            "n_docs": np.repeat(n_docs, k),
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    partials = pages.select("url", "warc_ts", "lang", "text", *feats).mapInPandas(
        run, schema=PARTIAL_SCHEMA
    )
    return partials
