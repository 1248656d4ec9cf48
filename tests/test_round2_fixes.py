"""Regression tests for round-2 advisory fixes:

1. inverseProportional doc weighting with zero-token documents must not
   propagate inf/NaN (fused kernel and Catalyst aggregate_docs alike).
2. A word in both the lexicon and the valence table scores AND shifts in
   the bigram engine, as in the reference.
3. Checkpoint orphan batch directories (crash between results append and
   manifest append) must be swept on resume — no duplicate rows.
4. ngram_jaccard_pairs hot-shingle cap bounds the candidate join.
5. tfidf_corpus_stats counts df over the engine's own tokens.
"""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import rollup
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.fused import score_to_bucket_partials
from sentometrics_spark.scoring.udf_engine import (
    compute_sentiment_udf,
    tfidf_corpus_stats,
)

TS = dt.datetime(2024, 1, 1, 10, 0, 0)


def _mini_pages(spark, texts, lang="en"):
    rows = [(f"u{i}", TS, lang, t, 1.0) for i, t in enumerate(texts)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, feat_x double"
    )


@pytest.fixture(scope="module")
def simple_lex():
    return Lexicons(lex={"en": {"L": {"good": 1.0, "bad": -1.0}}})


@pytest.mark.parametrize("ignore_zeros", [True, False])
def test_empty_doc_inverse_proportional_fused(spark, simple_lex, ignore_zeros):
    # middle document tokenizes to zero tokens: 1/wc must not become inf
    pages = _mini_pages(spark, ["good news today", "!!!", "bad day bad"])
    fused = rollup(
        score_to_bucket_partials(
            pages, simple_lex, "proportional", "inverseProportional",
            by="hour", do_ignore_zeros=ignore_zeros,
        ),
        "hour",
    ).toPandas()
    assert np.isfinite(fused["value"]).all()
    sent = compute_sentiment_udf(pages, simple_lex, "proportional", mode="unigram")
    direct = aggregate_docs(
        sent, by="hour", how="inverseProportional", do_ignore_zeros=ignore_zeros
    ).toPandas()
    assert np.isfinite(direct["value"]).all()
    a = fused.sort_values(["lexicon", "feature"])["value"].to_numpy()
    b = direct.sort_values(["lexicon", "feature"])["value"].to_numpy()
    np.testing.assert_allclose(a, b, atol=1e-12)


def test_valence_lexicon_conflict_rule(spark):
    # 'good' is BOTH a lexicon word and a valence shifter. The reference
    # keeps the overlap and the bigram scorer looks the preceding token up
    # in the valence map unconditionally, so 'good' both scores and
    # shifts; at position 0 the lookup index clamps to the token itself
    # (reference src/SentimentScorerBigrams.h:68-71).
    lex = Lexicons(
        lex={"en": {"L": {"good": 1.0, "bad": -1.0}}},
        valence={"en": {"good": (9.0, 2), "not": (-1.0, 1)}},
    )
    pages = _mini_pages(spark, ["good bad day", "not bad at all", "good good bad"])
    udf = (
        compute_sentiment_udf(pages, lex, "counts", mode="bigram")
        .filter(F.col("feature") == "feat_x")
        .toPandas()
        .sort_values("url")["score"]
        .to_numpy()
    )
    # 'good bad day':   9 x 1 (good, self-shifted) + 9 x -1 (bad)      = 0
    # 'not bad at all': -1 x -1 (bad after the 'not' shifter)          = 1
    # 'good good bad':  9 x 1 + 9 x 1 (second good) + 9 x -1 (bad)    = 9
    np.testing.assert_allclose(udf, [0.0, 1.0, 9.0], atol=1e-12)


def test_checkpoint_orphan_cleanup(spark, tmp_path):
    from sentometrics_spark.storage.checkpoint import CheckpointedRun

    pages = _mini_pages(spark, ["good a", "bad b", "good c"]).withColumn(
        "warc_ts", F.expr("warc_ts + make_interval(0,0,0,cast(substring(url,2) as int),0,0,0)")
    )
    root = str(tmp_path / "ckpt")

    def process(df):
        return df.groupBy("lang").agg(F.count("*").alias("n"))

    run1 = CheckpointedRun(spark, root, run_id="r1")
    m1 = run1.run(pages, process, batch_partitions=2)
    cold = run1.results().toPandas().sort_values("lang").reset_index(drop=True)

    # simulate a crash: orphan batch dir written but no manifest entry
    orphan_dir = f"{root}/results/__batch=deadbeefcafe"
    spark.createDataFrame([("xx", 999)], "lang string, n long").write.parquet(orphan_dir)

    # orphan rows must not surface through results()
    again = run1.results().toPandas().sort_values("lang").reset_index(drop=True)
    assert "xx" not in set(again["lang"])

    # resume sweeps the orphan and reprocesses nothing (all keys done)
    run2 = CheckpointedRun(spark, root, run_id="r2")
    m2 = run2.run(pages, process, batch_partitions=2)
    assert m2["orphans_removed"] == 1
    assert m2["batches"] == 0
    final = run2.results().toPandas().sort_values("lang").reset_index(drop=True)
    assert final.equals(cold)
    assert m1["rows_out"] == len(cold)


def test_ngram_hot_shingle_cap(spark):
    from sentometrics_spark.textops.dedup import ngram_jaccard_pairs

    # 30 docs all sharing one hot boilerplate shingle + one planted near-dup
    boiler = "click here to subscribe now"
    docs = [(i, f"{boiler} unique{i} token{i} filler{i} extra{i}") for i in range(30)]
    docs.append((100, "alpha beta gamma delta epsilon zeta"))
    docs.append((101, "alpha beta gamma delta epsilon zeta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.9, max_shingle_df=5).toPandas()
    # the planted identical pair survives exactly; boilerplate pairs don't
    assert len(pairs) == 1
    assert (pairs.iloc[0]["id_a"], pairs.iloc[0]["id_b"]) == (100, 101)
    assert pairs.iloc[0]["jaccard"] == pytest.approx(1.0)


def test_tfidf_df_matches_engine_tokens(spark, simple_lex):
    # punctuation: 'good.' must count toward df of 'good' because the engine
    # tokenizes it as a hit ([^a-z']+ split) — a plain space-split would not.
    pages = _mini_pages(spark, ["good. day", "so good", "nothing here"])
    stats = tfidf_corpus_stats(pages, simple_lex)
    n, df_map = stats["en"]
    assert n == 3.0
    assert df_map["good"] == 2.0


def test_validate_langs_skip(spark, simple_lex):
    # corpus has a language with no lexicon: default fails, skip proceeds
    rows = [("u1", TS, "en", "good day", 1.0), ("u2", TS, "xx", "good day", 1.0)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, feat_x double"
    )
    with pytest.raises(ValueError, match="no lexicon"):
        compute_sentiment_udf(pages, simple_lex, "counts", mode="unigram")
    with pytest.raises(Exception):
        # skip bypasses the driver check; the executor-side lookup still fails
        compute_sentiment_udf(
            pages, simple_lex, "counts", mode="unigram", validate_langs="skip"
        ).collect()
    # on a fully-covered corpus skip produces identical output
    ok = _mini_pages(spark, ["good day", "bad day"])
    a = compute_sentiment_udf(ok, simple_lex, "counts", mode="unigram").toPandas()
    b = compute_sentiment_udf(
        ok, simple_lex, "counts", mode="unigram", validate_langs="skip"
    ).toPandas()
    key = ["url", "lexicon", "feature"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )
