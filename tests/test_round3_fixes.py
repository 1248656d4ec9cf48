"""Round-3 fixes, each pinned by a test:

  1. streaming tier refresh is exactly-once across restarts (ADVICE r2
     medium): a foreachBatch REPLAY of an already-applied batch is a
     no-op, and a crash anywhere inside the apply (hour upsert done,
     coarser tiers not) is repaired by re-running the apply without
     double-counting.
  2. streamed hour-tier partials survive a replay without duplication
     (batch_id partition overwrite instead of blind append).
  3. minhash_dedup_candidates caps degenerate LSH buckets: an m-member
     boilerplate bucket emits O(m) star pairs, never O(m²).
  4. simhash signatures are computed map-only (no explode, no shuffle).
  5. ivf_assign's k-means sample is layout-independent (seeded hash
     order), not first-partitions-biased.
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark import streaming
from sentometrics_spark.aggregate.tiers import (
    TierStore,
    base_tier,
    build_all_tiers,
    refresh_continuous,
    rollup,
)
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

KEY = ["bucket_ts", "lexicon", "feature"]


def _tier_values(store, tier):
    return (
        store.read(tier)
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def split_partials(spark, pages):
    lex = Lexicons(lex=fixture_lexicons().lex)
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram").cache()
    half_a = sent.filter(F.crc32("url") % 2 == 0)
    half_b = sent.filter(F.crc32("url") % 2 == 1)
    pa = base_tier(half_a, how="proportional", by="hour").cache()
    pb = base_tier(half_b, how="proportional", by="hour").cache()
    full = build_all_tiers(sent, "proportional")
    expected = {
        t: full[t].select(*KEY, "value").toPandas().sort_values(KEY).reset_index(drop=True)
        for t in ("hour", "day", "week", "month")
    }
    return pa, pb, expected


def _assert_tiers_equal(store, expected):
    for tier in ("hour", "day", "week", "month"):
        got = _tier_values(store, tier)
        assert len(got) == len(expected[tier]), tier
        np.testing.assert_allclose(
            got["value"].to_numpy(),
            expected[tier]["value"].to_numpy(),
            rtol=1e-9,
            atol=1e-12,
        )


def test_apply_refresh_replay_is_noop(spark, tmp_path, split_partials):
    """Replaying an applied batch (at-least-once restart) changes nothing."""
    pa, pb, expected = split_partials
    store = TierStore(spark, str(tmp_path / "t1"))
    assert streaming.apply_refresh_exactly_once(store, pa, 0) is True
    assert streaming.apply_refresh_exactly_once(store, pb, 1) is True
    _assert_tiers_equal(store, expected)
    # replay both batches — the ledger short-circuits them
    assert streaming.apply_refresh_exactly_once(store, pa, 0) is False
    assert streaming.apply_refresh_exactly_once(store, pb, 1) is False
    _assert_tiers_equal(store, expected)


def test_apply_refresh_crash_mid_apply_is_repaired(spark, tmp_path, split_partials):
    """Crash after the hour upsert but before day/week/month (and before
    the ledger commit): the retry re-applies from the frozen stage and
    converges to the exact tiers — no double-count."""
    pa, pb, expected = split_partials
    store = TierStore(spark, str(tmp_path / "t2"))
    streaming.apply_refresh_exactly_once(store, pa, 0)

    # simulate the crashed first attempt of batch 1: stage it fully, run
    # refresh_continuous with the staged pre ONLY for the hour tier by
    # crashing via monkeypatched upsert after 'hour'
    stage = os.path.join(store.root, "_stream_stage", "batch_1")
    pb.write.mode("overwrite").parquet(os.path.join(stage, "new"))
    new = spark.read.parquet(os.path.join(stage, "new"))
    dirty = [
        r["d"]
        for r in new.select(F.to_date("bucket_ts").alias("d")).distinct().collect()
    ]
    store.read_dates("hour", dirty).write.mode("overwrite").parquet(
        os.path.join(stage, "pre")
    )
    open(os.path.join(stage, "_STAGED"), "w").close()

    pre = spark.read.parquet(os.path.join(stage, "pre"))

    class Boom(Exception):
        pass

    orig = TierStore.upsert_partitions
    calls = {"n": 0}

    def crashing(self, tier, df):
        orig(self, tier, df)
        calls["n"] += 1
        if tier == "hour":
            raise Boom()

    TierStore.upsert_partitions = crashing
    try:
        with pytest.raises(Boom):
            refresh_continuous(store, new, pre_hour=pre)
    finally:
        TierStore.upsert_partitions = orig
    assert calls["n"] == 1  # hour written, day/week/month not: inconsistent

    # restart: foreachBatch replays batch 1; the stage is intact, apply
    # re-runs as a pure function of (pre, new) and repairs every tier
    assert streaming.apply_refresh_exactly_once(store, pb, 1) is True
    _assert_tiers_equal(store, expected)
    assert not os.path.exists(stage)


def test_hour_partials_replay_overwrites_not_appends(spark, tmp_path, split_partials):
    """The partials writer is keyed by batch_id partition: rewriting the
    same batch (replay) leaves the finalized hour tier unchanged."""
    pa, _, _ = split_partials
    path = str(tmp_path / "partials")

    def write(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    write(pa, 0)
    once = (
        rollup(spark.read.parquet(path), "hour")
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    write(pa, 0)  # replay
    twice = (
        rollup(spark.read.parquet(path), "hour")
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(once) == len(twice)
    np.testing.assert_allclose(
        once["value"].to_numpy(), twice["value"].to_numpy(), rtol=0, atol=0
    )


# ---------------------------------------------------------------------------
# dedup / ANN scale fixes
# ---------------------------------------------------------------------------


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_minhash_degenerate_bucket_emits_star_pairs(spark):
    """300 identical boilerplate docs share every LSH band: with the cap,
    the candidate output is the 299 (keep_id, member) star pairs — O(m) —
    and every member stays connected to keep_id for dedup resolution."""
    from sentometrics_spark.textops import dedup

    docs = spark.createDataFrame(
        [(i, "identical boilerplate page about spark engines forever") for i in range(300)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_dedup_candidates(
        docs, k=8, bands=4, max_bucket_size=64
    ).toPandas()
    assert len(pairs) == 299
    assert (pairs["id_a"] == 0).all()  # keep_id = min member
    assert set(pairs["id_b"]) == set(range(1, 300))


def test_minhash_cap_inactive_below_threshold(spark):
    """Small buckets produce the identical all-pairs set with or without
    the cap."""
    from sentometrics_spark.textops import dedup

    rows = []
    for g in range(4):
        for j in range(5):
            rows.append((g * 10 + j, f"group {g} shared text body tokens here {g}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_dedup_candidates(docs, k=8, bands=4, max_bucket_size=64)
    uncapped = dedup.minhash_dedup_candidates(
        docs, k=8, bands=4, max_bucket_size=10**9
    )
    a = {tuple(r) for r in capped.collect()}
    b = {tuple(r) for r in uncapped.collect()}
    assert a == b and len(a) >= 4 * 10  # 4 groups x C(5,2)


def test_minhash_star_pairs_plan_not_cartesian(spark):
    from sentometrics_spark.textops import dedup

    docs = spark.createDataFrame(
        [(i, "same text " + str(i % 2)) for i in range(40)],
        "doc_id long, text string",
    )
    p = _plan_of(dedup.minhash_dedup_candidates(docs, k=8, bands=4, max_bucket_size=4))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_simhash_signature_plan_is_map_only(spark):
    """The signature computation is a per-row aggregate over the token
    array: zero Exchanges in the plan (the old formulation exploded 64
    bit-rows per (doc, token) and shuffled twice)."""
    import re

    from sentometrics_spark.textops import dedup

    docs = spark.createDataFrame(
        [(i, f"some text body {i}") for i in range(10)],
        "doc_id long, text string",
    )
    p = _plan_of(dedup.simhash(docs))
    assert not re.findall(r"^\(\d+\) Exchange\b", p, flags=re.M), p
    assert "Generate" not in p  # no explode


def test_simhash_null_text_absent_punct_kept(spark):
    """Parity with the old explode formulation: a null text produces no
    signature row; a punctuation-only text is one whitespace token in the
    textops layer and keeps its row."""
    from sentometrics_spark.textops import dedup

    docs = spark.createDataFrame(
        [(1, "real tokens here"), (2, "..."), (3, None)],
        "doc_id long, text string",
    )
    out = dedup.simhash(docs).toPandas()
    assert set(out["doc_id"]) == {1, 2}


def test_ivf_sample_is_layout_independent(spark):
    """Adversarial layout: the table's leading rows are all cluster A.
    A first-partitions sample would fit centroids only on A; the seeded
    hash-order sample must see both clusters."""
    import numpy as np

    from sentometrics_spark.textops import similarity

    rng = np.random.RandomState(7)
    rows = []
    for i in range(500):  # cluster A first in id/file order
        rows.append((i, (rng.randn(8) * 0.05).tolist()))
    for i in range(500, 2000):  # cluster B: far away, later rows
        rows.append((i, (rng.randn(8) * 0.05 + 10.0).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)  # single partition => limit() would take cluster A only
    assigned, cent = similarity.ivf_assign(emb, n_cells=4, sample=300, seed=1)
    d_to_b = np.abs(cent - 10.0).mean(axis=1).min()
    assert d_to_b < 1.0, f"no centroid near cluster B: {cent.mean(axis=1)}"
    # and assignment separates the clusters
    cells = assigned.select("vec_id", "cell").toPandas()
    a_cells = set(cells[cells.vec_id < 500]["cell"])
    b_cells = set(cells[cells.vec_id >= 500]["cell"])
    assert a_cells.isdisjoint(b_cells)


def test_dictionary_segmented_lexicon_fails_fast():
    """Lexicon/valence entries containing Han/Thai/... codepoints raise at
    construction (the UAX-29 tokenizer keeps unspaced ideograph runs as
    one token, so such entries would silently never match); a zh/ja/th
    language KEY with spaced-script entries only warns (entries can match,
    but word counts diverge on native-script runs — and the driver's
    synthetic corpus legitimately labels ASCII text 'zh')."""
    with pytest.raises(ValueError, match="Han"):
        Lexicons(lex={"zh": {"LEXA": {"好": 1.0}}})
    with pytest.raises(ValueError, match="Thai"):
        Lexicons(lex={"th": {"LEXA": {"ดี": 1.0}}})
    with pytest.raises(ValueError, match="Han"):
        Lexicons(lex={"en": {"LEXA": {"好": 1.0}}})
    with pytest.raises(ValueError, match="Thai"):
        Lexicons(lex={"en": {"LEXA": {"fast": 1.0}}},
                 valence={"en": {"ไม่": (-1.0, 1)}})
    with pytest.warns(UserWarning, match="dictionary-segmented"):
        Lexicons(lex={"ja": {"LEXA": {"sushi": 1.0}}})
    # spaced scripts stay allowed, no warning (Hangul, Cyrillic)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        Lexicons(lex={"ko": {"LEXA": {"좋다": 1.0}}})
        Lexicons(lex={"ru": {"LEXA": {"хорошо": 1.0}}})


def test_symmetric_multinomial_kkt_and_ovr_divergence():
    """multinomial_enet_cd solves the SYMMETRIC softmax elastic net: the
    KKT conditions of that joint objective hold at the solution — the
    unpenalized-loss gradient for every active (feature, class) equals
    -lam*((1-alpha)*b + alpha*sign(b)), and inactive entries satisfy
    |grad| <= lam*alpha. A one-vs-rest stack (per-class independent
    binomial fits) violates these conditions on the same data, so the two
    estimators are demonstrably different objects."""
    from sentometrics_spark.model.elasticnet import (
        logistic_enet_cd,
        multinomial_enet_cd,
    )

    rng = np.random.RandomState(11)
    n, p, K = 240, 6, 3
    X = rng.normal(size=(n, p))
    latent = np.stack(
        [1.5 * X[:, 0] - 0.5 * X[:, 3], 1.5 * X[:, 1] + 0.5 * X[:, 3], 1.5 * X[:, 2]],
        axis=1,
    ) + 0.3 * rng.normal(size=(n, K))
    yl = latent.argmax(axis=1)
    Y = np.eye(K)[yl]
    alpha, lam = 0.8, 0.02

    def kkt_violation(B_std, b0_std):
        """Max KKT violation of the symmetric objective, on standardized X
        (the scale the penalty applies on, as in glmnet)."""
        xm, xs = X.mean(0), X.std(0)
        Xs = (X - xm) / xs
        eta = Xs @ B_std + b0_std
        m = eta.max(axis=1, keepdims=True)
        P = np.exp(eta - m)
        P /= P.sum(axis=1, keepdims=True)
        G = Xs.T @ (P - Y) / n  # d(-loglik/n)/dB
        worst = 0.0
        for j in range(p):
            for k in range(K):
                b = B_std[j, k]
                if abs(b) > 1e-8:
                    worst = max(
                        worst, abs(G[j, k] + lam * ((1 - alpha) * b + alpha * np.sign(b)))
                    )
                else:
                    worst = max(worst, max(0.0, abs(G[j, k]) - lam * alpha))
        return worst

    B, b0 = multinomial_enet_cd(X, Y, alpha, lam)
    # report in standardized coordinates: invert the de-standardization
    xs = X.std(0)
    B_std = B * xs[:, None]
    b0_std = b0 + B.T @ X.mean(0)
    assert kkt_violation(B_std, b0_std) < 5e-4
    # intercepts centered (glmnet's identifiability convention)
    assert abs(b0_std.mean()) < 1e-6

    # OvR stack on the same data fails the symmetric KKT by a wide margin
    ovr_B = np.column_stack(
        [logistic_enet_cd(X, Y[:, k], alpha, lam)[0] for k in range(K)]
    )
    ovr_b0 = np.array(
        [logistic_enet_cd(X, Y[:, k], alpha, lam)[1] for k in range(K)]
    )
    ovr_Bs = ovr_B * xs[:, None]
    ovr_b0s = ovr_b0 + ovr_B.T @ X.mean(0)
    ovr_b0s = ovr_b0s - ovr_b0s.mean()
    assert kkt_violation(ovr_Bs, ovr_b0s) > 5e-3
    # and the planted 3-class signal is recovered
    pred = np.argmax(X @ B + b0, axis=1)
    assert (pred == yl).mean() > 0.85


def test_new_curation_ops_plan_shapes(spark):
    """Round-3 curation ops keep bounded plans: no CartesianProduct
    anywhere; DSIR's log-ratio table comes back via a broadcast join (it
    is <= buckets rows); the only nested-loop joins are single-row
    broadcast totals."""
    from sentometrics_spark.textops import dedup, textstats

    docs = spark.createDataFrame(
        [(i, f"some text tokens {i % 7} about engines") for i in range(40)],
        "doc_id long, text string",
    )
    seen = docs.limit(5).select(dedup.hash64(F.col("text")).alias("content_hash"))

    plans = {
        "dedup_incremental": _plan_of(dedup.dedup_incremental(docs, seen)),
        "lm_cross_entropy": _plan_of(textstats.lm_cross_entropy(docs)),
        "dsir_importance": _plan_of(
            textstats.dsir_importance(docs, F.col("doc_id") < 20, buckets=64)
        ),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
    # DSIR scores map-only: the fit pass ran eagerly at construction, the
    # returned plan folds each row's grams over the inlined log-ratio
    # literal — zero Exchanges, zero joins
    import re

    assert not re.findall(
        r"^\(\d+\) Exchange\b", plans["dsir_importance"], flags=re.M
    ), plans["dsir_importance"]
    assert "Join" not in plans["dsir_importance"]
    n_bnlj = len(
        re.findall(
            r"^\(\d+\) BroadcastNestedLoopJoin", plans["lm_cross_entropy"], flags=re.M
        )
    )
    assert n_bnlj <= 1  # the single-row totals broadcast


def test_minhash_bucket_plan_single_exchange(spark):
    """The LSH bucket pipeline is map-only up to ONE Exchange (the bounded
    (band, signature) groupBy): signatures are computed per row inside the
    aggregate expression — the old per-shingle explode + groupBy(doc)
    shuffle (O(total shingles) rows) is gone."""
    import re

    from sentometrics_spark.textops import dedup

    docs = spark.createDataFrame(
        [(i, f"tokens for document number {i} body text") for i in range(30)],
        "doc_id long, text string",
    )
    p = _plan_of(dedup.minhash_lsh_buckets(docs, k=8, bands=4))
    n_exchange = len(re.findall(r"^\(\d+\) Exchange\b", p, flags=re.M))
    assert n_exchange == 1, p
