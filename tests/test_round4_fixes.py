"""Round-4 hardening regression tests (VERDICT.md round-3 "next" items):

  1. simhash_near_pairs caps degenerate (band, chunk) buckets with O(m)
     star pairs, mirroring the round-3 MinHash fix, and its plan carries
     no self-join / cartesian.
  2. lm_cross_entropy scores map-only (bucketed-LM fold, no token-keyed
     Exchange) while staying bit-exact vs the join formulation.
  3. ADVICE round-3 fixes: multinomial warm start passed in solver scale;
     compact_partials leaves the highest batch_id partition alone so a
     post-restart replay of a pending batch cannot double-count.
  4. CJK segmenter hook: a per-language callable feeds the pre-tokenized
     path, lifting the fail-fast for languages it covers.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.textops import dedup


def _plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------- simhash cap


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """1,000 near-identical boilerplate pages (identical but for a numeric
    token => tiny hamming, all sharing every band chunk) plus a handful of
    distinct docs."""
    rows = [
        (i, "lorem ipsum cookie banner accept terms privacy policy page " + str(i % 7))
        for i in range(1000)
    ]
    rows += [(5000 + i, f"genuinely unique document number {i} with its own words {i*i}") for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_degenerate_bucket_emits_star_pairs(boilerplate_docs):
    out = dedup.simhash_near_pairs(
        boilerplate_docs, max_hamming=8, bands=4, max_bucket_size=64
    ).toPandas()
    # 1,000 boilerplate members share buckets far beyond the 64 cap: the
    # capped op emits O(m) star rows, not m^2/2 ~ 500k
    boiler = out[(out.id_a < 1000) & (out.id_b < 1000)]
    assert 0 < len(boiler) <= 4 * 1000
    # every boilerplate member is still linked into the keeper's component
    linked = set(boiler.id_a) | set(boiler.id_b)
    assert linked.issuperset(set(range(1, 1000)) | {0})
    # star pairs keep the keeper (min id) on the left
    assert (boiler.id_a == 0).all() or len(boiler[boiler.id_a != 0]) < len(boiler)


def test_simhash_small_buckets_unchanged_by_cap(spark, tmp_path):
    """Below the cap the output is identical to an uncapped run."""
    rows = [(i, f"alpha beta gamma delta {i % 3} epsilon {i % 5}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_near_pairs(docs, max_hamming=6, max_bucket_size=256).toPandas()
    uncapped = dedup.simhash_near_pairs(docs, max_hamming=6, max_bucket_size=10**9).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b", "hamming"]].to_numpy()))
    assert key(capped) == key(uncapped)


# --------------------------------------------------------- segmenter hook


def test_segmenter_hook_scores_zh_lexicon(spark):
    """T1 residual: a zh lexicon becomes usable through the pluggable
    segmenter hook — segment_corpus with a toy forward-longest-match
    dictionary feeds the T3 tokens_col path, and scores match a hand
    oracle. The fail-fast stays the default."""
    from pyspark.sql import functions as F

    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.scoring.segment import (
        longest_match_segmenter,
        segment_corpus,
    )
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

    zh_lex = {"zh": {"L": {"好": 1.0, "市场": 2.0}}}  # 好 +1, 市场 +2
    # default: constructing a Han-script lexicon fails fast
    with pytest.raises(ValueError, match="Han"):
        Lexicons(lex=zh_lex)
    lex = Lexicons(lex=dict(zh_lex, en={"L": {"good": 1.0}}),
                   pretokenized_langs={"zh"})

    # declared pretokenized but no tokens_col => hard error, never a
    # silent mis-score
    pages = spark.createDataFrame(
        [
            # 市场好 -> [市场, 好] -> score 2 + 1 = 3, word_count 2
            ("u0", "2024-01-01 00:00:00", "市场好", "zh", 1.0),
            # 好好x -> [好, 好, x] -> score 2, word_count 3
            ("u1", "2024-01-01 00:00:00", "好好x", "zh", 1.0),
            ("u2", "2024-01-01 00:00:00", "good market, good!", "en", 1.0),
        ],
        "url string, warc_ts string, text string, lang string, feat_all double",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    with pytest.raises(ValueError, match="tokens_col"):
        compute_sentiment_udf(pages, lex, "counts")

    seg = longest_match_segmenter(["好", "市场"])
    assert seg("市场好") == ["市场", "好"]

    docs = segment_corpus(pages, {"zh": seg})
    out = compute_sentiment_udf(
        docs, lex, "counts", mode="unigram", tokens_col="tokens"
    ).toPandas().set_index("url")
    assert out.loc["u0", "score"] == pytest.approx(3.0)
    assert out.loc["u0", "word_count"] == 2
    assert out.loc["u1", "score"] == pytest.approx(2.0)
    assert out.loc["u1", "word_count"] == 3
    # non-registered language fell back to the built-in UAX-29 tokenizer
    assert out.loc["u2", "score"] == pytest.approx(2.0)
    assert out.loc["u2", "word_count"] == 3


def test_pretokenized_langs_guarded_in_other_engines(spark):
    from pyspark.sql import functions as F

    from sentometrics_spark.lexicons import Lexicons
    from sentometrics_spark.scoring.sentences import compute_sentiment_sentences_udf

    lex = Lexicons(lex={"zh": {"L": {"好": 1.0}}}, pretokenized_langs={"zh"})
    pages = spark.createDataFrame(
        [("u0", "2024-01-01 00:00:00", "好", "zh", 1.0)],
        "url string, warc_ts string, text string, lang string, feat_all double",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    with pytest.raises(ValueError, match="sentence engine"):
        compute_sentiment_sentences_udf(pages, lex, "counts")


# ----------------------------------------------- compaction vs pending replay


def test_compact_partials_spares_pending_newest_batch(spark, tmp_path):
    """compact_partials must NOT fold the highest batch_id into the -1
    partition: if that batch's checkpoint commit was still pending, a
    post-restart replay re-writes its own partition and the folded copy
    would double-count it (ADVICE r3). Simulate exactly that sequence and
    assert the finalized tier is unchanged."""
    from datetime import datetime

    from sentometrics_spark import streaming
    from sentometrics_spark.aggregate.tiers import rollup

    path = str(tmp_path / "partials")
    cols = "bucket_ts timestamp, lexicon string, feature string, value double, wsum double, wden double, n_docs_in long, n_docs long, batch_id long"
    ts = datetime(2024, 1, 1, 10, 0, 0)

    def rows(batch_id, wsum):
        return [(ts, "LX", "f1", wsum / 2.0, wsum, 2.0, 2, 2, batch_id)]

    df = spark.createDataFrame(rows(0, 4.0) + rows(1, 6.0) + rows(2, 10.0), cols)
    df.write.partitionBy("batch_id").mode("overwrite").parquet(path)

    before = rollup(spark.read.parquet(path), "hour").collect()[0]
    assert before["wsum"] == 20.0

    # compaction runs while batch 2's checkpoint commit is pending
    streaming.compact_partials(spark, path)
    batches = {r["batch_id"] for r in spark.read.parquet(path).collect()}
    assert batches == {-1, 2}  # 0 and 1 folded, the frontier batch intact

    # restart: batch 2 replays, dynamically overwriting its OWN partition
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.createDataFrame(rows(2, 10.0), cols).write.partitionBy(
        "batch_id"
    ).mode("overwrite").parquet(path)

    after = rollup(spark.read.parquet(path), "hour").collect()[0]
    assert after["wsum"] == 20.0  # no double count
    assert after["value"] == before["value"]

    # a second compaction over the now-quiesced table folds everything left
    streaming.compact_partials(spark, path)
    final = rollup(spark.read.parquet(path), "hour").collect()[0]
    assert final["wsum"] == 20.0


# ---------------------------------------------------------- map-only LM score


def test_lm_cross_entropy_score_plan_map_only(spark):
    """With a pinned LM the score plan must carry ZERO Exchanges and no
    join — the round-3 formulation shuffled every token occurrence on the
    zipfian raw-token key."""
    from sentometrics_spark.textops import textstats

    docs = spark.createDataFrame(
        [(i, f"some text tokens {i % 7} about engines") for i in range(40)],
        "doc_id long, text string",
    )
    lm = textstats.fit_unigram_lm(docs, buckets=64)
    p = _plan_of(textstats.lm_cross_entropy(docs, buckets=64, lm=lm))
    assert not re.findall(r"^\(\d+\) Exchange\b", p, flags=re.M), p
    assert "Join" not in p, p
    assert "Generate" not in p, p  # no explode either


def test_lm_cross_entropy_matches_round3_ranking(spark):
    """The bucketed LM preserves the gate's ordering: corpus-common docs
    below rare-token docs, and fit-inline == fit-then-pin."""
    from sentometrics_spark.textops import textstats

    rows = [(i, "common words appear here often") for i in range(9)]
    rows.append((99, "zyzzyva qwerty flurble"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inline = {r["doc_id"]: r["cross_entropy_bits"]
              for r in textstats.lm_cross_entropy(docs).collect()}
    lm = textstats.fit_unigram_lm(docs)
    pinned = {r["doc_id"]: r["cross_entropy_bits"]
              for r in textstats.lm_cross_entropy(docs, lm=lm).collect()}
    assert inline == pinned
    assert inline[99] > inline[0]


def test_simhash_pairs_plan_no_self_join(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, "spark fast query engine row " + "x" * (i % 5)) for i in range(30)],
        "doc_id long, text string",
    )
    for df in (
        dedup.simhash_near_pairs(docs, id_col="doc_id"),
        dedup.minhash_dedup_candidates(docs, k=8, bands=4),
    ):
        p = _plan_of(df)
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
        # neither candidate generator self-joins the banded/signature
        # table — no join operator at all
        assert "Join" not in p, p
    p = _plan_of(dedup.minhash_dedup_candidates(docs, k=8, bands=4))
    assert len(re.findall(r"^\(\d+\) MapInPandas", p, flags=re.M)) <= 1, p
    assert len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M)) == 2, p

    # the round-6 form: the ranked banded table is pinned with a lazy
    # localCheckpoint before the small-pair and star branches split, so
    # the signature kernel + (band, chunk) shuffle + window run ONCE
    # inside the checkpointed RDD (the r5 ReusedExchange form still
    # re-ran the sort + window per branch) and BOTH branches read the
    # same stored blocks — while no single row ever materializes more
    # than max_bucket_size members (over-cap buckets take the row-wise
    # star path, no collect_list).
    path = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(path)
    df = dedup.simhash_near_pairs(
        spark.read.parquet(path), id_col="doc_id"
    )
    df.collect()
    # AdaptiveSparkPlan's toString prints the final plan then the initial
    # plan — assert on the executed (final) section only
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # kernel + window live inside the checkpoint: both branches are scans
    # of the SAME materialized RDD, and neither re-executes the kernel,
    # the window or a branch-side banded-table Exchange+Sort
    assert final.count("Scan ExistingRDD") == 2, final
    assert "MapInPandas" not in final, final
    assert "Window" not in final, final
    assert "Join " not in final and "Cartesian" not in final, final


# ------------------------------------------------------- warm start in scale


def test_multinomial_warm_start_is_a_fixed_point():
    """ADVICE r3: warm= receives the solver's RETURN values (original-X
    scale) and must be rescaled into standardized space internally.
    Regression: warm-starting from the converged solution must stay AT
    that solution (a wrongly-scaled warm start walks away from it)."""
    rng = np.random.default_rng(7)
    n, p, K = 120, 6, 3
    X = rng.normal(size=(n, p)) * np.array([1.0, 5.0, 0.2, 1.0, 3.0, 0.05])
    true_B = rng.normal(size=(p, K))
    eta = X @ true_B
    probs = np.exp(eta - eta.max(1, keepdims=True))
    probs /= probs.sum(1, keepdims=True)
    y = np.array([rng.choice(K, p=pr) for pr in probs])
    Y = np.zeros((n, K))
    Y[np.arange(n), y] = 1.0

    from sentometrics_spark.model.elasticnet import multinomial_enet_cd

    B1, b01 = multinomial_enet_cd(X, Y, alpha=0.5, lam=0.05)
    B2, b02 = multinomial_enet_cd(X, Y, alpha=0.5, lam=0.05, warm=(B1, b01))
    np.testing.assert_allclose(B2, B1, atol=1e-6)
    np.testing.assert_allclose(b02, b01, atol=1e-6)


def test_split_pos_neg_preserves_pretokenized_langs():
    from sentometrics_spark.lexicons import Lexicons

    lex = Lexicons(
        lex={"zh": {"L": {"好": 1.0, "坏": -1.0}}}, pretokenized_langs={"zh"}
    )
    sp = lex.split_pos_neg()  # would raise the Han fail-fast if dropped
    assert sp.pretokenized_langs == frozenset({"zh"})
    assert sp.lex["zh"]["L_POS"] == {"好": 1.0}


# ----------------------------------------------------- connected components


def test_connected_components_vs_union_find(spark):
    """Large-star/small-star CC vs a plain union-find oracle on a graph
    with a long chain (worst case for naive label propagation), a star, a
    clique, and singleton-free isolates via self-less pairs."""
    import random

    rng = random.Random(3)
    edges = [(i, i + 1) for i in range(100, 140)]          # 41-node chain
    edges += [(0, v) for v in range(1, 20)]                # star at 0
    edges += [(a, b) for a in range(200, 210) for b in range(a + 1, 210)]  # clique
    extra = [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(60)]
    edges += [(a, b) for a, b in extra if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    from sentometrics_spark.textops.dedup import connected_components, dedup_resolve

    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}

    # union-find oracle
    parent: dict = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    # path-compress fully
    want = {x: find(x) for x in parent}
    assert got == want

    res = dedup_resolve(pairs).toPandas()
    keepers = set(res[res.keep]["node"])
    assert keepers == set(want.values())
    assert len(res) == len(want)


def test_connected_components_two_rounds_on_star_capped_pairs(spark):
    """The star-capped candidate shape (keeper, member) converges and the
    keeper is the component id."""
    pairs = spark.createDataFrame(
        [(0, v) for v in range(1, 50)] + [(50, 0)], "id_a long, id_b long"
    )
    from sentometrics_spark.textops.dedup import connected_components

    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 51


# ------------------------------------------------------------ line dedup


def test_line_dedup_drops_boilerplate_lines(spark):
    """CCNet-style line dedup: a nav/cookie line repeated across docs is
    dropped everywhere; unique lines and blank structure survive."""
    from sentometrics_spark.textops.textstats import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "Accept cookies\nUnique story one\n\nBody A"),
            (2, "accept cookies  \nUnique story two\nBody B"),
            (3, "Totally original\nBody C"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, max_df=1).collect()}
    # the cookie line matches doc 1 and 2 after trim+lower => dropped in both
    assert out[1]["clean_text"] == "Unique story one\n\nBody A"
    assert out[2]["clean_text"] == "Unique story two\nBody B"
    assert out[3]["clean_text"] == "Totally original\nBody C"
    assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 1
    assert out[3]["n_dropped"] == 0
    # blank lines are structural: never counted as duplicates across docs
    docs2 = spark.createDataFrame(
        [(1, "a\n\nx"), (2, "b\n\ny")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r["clean_text"] for r in line_dedup(docs2, max_df=1).collect()}
    assert out2[1] == "a\n\nx" and out2[2] == "b\n\ny"


def test_perplexity_buckets_head_middle_tail(spark):
    """CCNet split: fluent docs land in head, gibberish in tail; the
    scale path (quantile) agrees with exact ntile on bucket membership for
    a well-separated corpus."""
    from sentometrics_spark.textops.textstats import perplexity_buckets

    rows = [(i, "common words appear here often and again often", "en") for i in range(6)]
    rows += [(100 + i, "common words appear here plus rarer filler", "en") for i in range(6)]
    rows += [(200 + i, f"zzq{i} qqz{i} xplk{i} vrbl{i}", "en") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    for mode in ("ntile", "quantile"):
        out = perplexity_buckets(
            docs, lang_col="lang", mode=mode, n_buckets=3
        ).toPandas().set_index("doc_id")
        assert set(out.loc[[0, 1, 2], "bucket_label"]) == {"head"}
        assert set(out.loc[[200, 201], "bucket_label"]) == {"tail"}
        assert out["bucket"].between(1, 3).all()
        assert len(out) == 18
