"""Physical-plan regression tests (PLANS.md made executable).

These lock in the scale-critical plan shapes: at 100 TB the difference
between "one shuffle of bucket partials" and "a shuffle of per-doc rows"
is the whole game, and a silent plan regression (a lost broadcast hint, a
filter that stops pushing down, an extra Exchange) would not change any
correctness result at sandbox scale. Each assertion names the property it
protects.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.tiers import rollup
from sentometrics_spark.corpus import build_pages
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.fused import score_to_bucket_partials
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _no_cached_scans(spark):
    """Plan-shape assertions inspect the parquet FileScan (PushedFilters /
    ReadSchema). Spark's CacheManager silently substitutes any cached
    full-column read of the same file into later plans (e.g. the
    test_textops docs fixture when modules run in a different order), which
    hides pushdown without changing results — clear all caches first so the
    plans under test are the real scan plans."""
    spark.catalog.clearCache()


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffles(plan: str) -> int:
    """Count shuffle Exchanges (BroadcastExchange is free at scale —
    O(lexicon) bytes — and intentionally excluded)."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark, SF_DIR, with_html=False)


@pytest.fixture(scope="module")
def lex():
    return Lexicons(lex=fixture_lexicons().lex)


def test_udf_scoring_is_map_only(spark, pages, lex):
    """The Arrow scoring engine must be a pure map: scan -> MapInPandas ->
    project. Zero shuffles — per-doc scores never cross the network."""
    df = compute_sentiment_udf(
        pages, lex, "proportional", mode="unigram", validate_langs="skip"
    )
    p = plan_of(df)
    assert "MapInPandas" in p
    assert n_shuffles(p) == 0, p


def test_fused_path_single_partial_fed_shuffle(spark, pages, lex):
    """The 100 TB path: exactly ONE shuffle, and it must carry bucket-level
    partial sums (partial_sum before the Exchange), so shuffle volume is
    O(buckets x measures x partitions), independent of corpus size."""
    df = rollup(
        score_to_bucket_partials(
            pages, lex, "proportional", "proportional", by="hour",
            validate_langs="skip",
        ),
        "hour",
    )
    p = plan_of(df)
    assert n_shuffles(p) == 1, p
    # formatted mode lists each node twice (tree + detail section)
    assert len(re.findall(r"^\(\d+\) MapInPandas", p, flags=re.M)) == 1, p
    assert re.search(r"partial_sum\(wsum", p), p


def test_doc_aggregation_partial_before_shuffle(spark, pages, lex):
    """Scoring -> doc aggregation: one shuffle total, fed by map-side
    partial sums in the same stage as the UDF."""
    sent = compute_sentiment_udf(
        pages, lex, "proportional", mode="unigram", validate_langs="skip"
    )
    df = aggregate_docs(sent, by="day", how="proportional", keep_partials=False)
    p = plan_of(df)
    assert n_shuffles(p) == 1, p
    assert "partial_sum" in p, p


def _last_exchange_records_written(spark) -> int:
    """'shuffle records written' summed over the Exchange nodes of the
    most recent SQL execution, read from the SQL status store (works with
    the UI disabled)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store = spark._jsparkSession.sharedState().statusStore()
    eid = store.executionsList(store.executionsCount() - 1, 1).apply(0).executionId()
    values = {}
    it = store.executionMetrics(eid).iterator()
    while it.hasNext():
        t = it.next()
        values[t._1()] = t._2()
    nodes = store.planGraph(eid).allNodes()
    total, n_exchanges = 0, 0
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if node.name() != "Exchange":
            continue
        n_exchanges += 1
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "shuffle records written":
                total += int(values[m.accumulatorId()].replace(",", ""))
    assert n_exchanges == 1, n_exchanges
    return total


def test_doc_aggregation_skew_ships_partials(spark):
    """Skew is handled by map-side partial aggregation: with
    95% of the rows in ONE day bucket, the executed plan's Exchange writes
    at most one record per (map partition, bucket, lexicon, feature) — the
    hot bucket never ships its document rows to a single reducer."""
    from pyspark.sql import functions as F

    n_map, n_docs = 4, 4000
    hot_day = 1704067200  # 2024-01-01 UTC
    # one row per (document, lexicon, feature): 4 measures per document
    doc, measure = F.col("id") % n_docs, F.floor(F.col("id") / n_docs)
    sent = spark.range(0, 4 * n_docs, numPartitions=n_map).select(
        F.concat(F.lit("u"), doc.cast("string")).alias("url"),
        # every 20th document lands on one of 20 other days; the rest on
        # the hot day
        F.timestamp_seconds(
            F.when(doc % 20 == 0, hot_day + 86400 * (1 + doc % 400 / 20)).otherwise(
                hot_day + doc % 3600
            )
        ).alias("warc_ts"),
        (10 + doc % 50).alias("word_count"),
        F.when(measure < 2, "L1").otherwise("L2").alias("lexicon"),
        F.when(measure % 2 == 0, "f1").otherwise("f2").alias("feature"),
        ((F.hash("id") % 7 - 3) / 3.0).alias("score"),
    )
    assert sent.rdd.getNumPartitions() == n_map
    day = F.date_trunc("day", "warc_ts")
    hot_share = sent.groupBy(day).count().agg(F.max("count") / F.sum("count")).first()[0]
    assert hot_share >= 0.9, hot_share

    df = aggregate_docs(sent, by="day", how="proportional", keep_partials=False)
    df.write.format("noop").mode("overwrite").save()
    written = _last_exchange_records_written(spark)
    n_keys = sent.select(day, "lexicon", "feature").distinct().count()
    assert 0 < written <= n_map * n_keys, (written, n_map, n_keys)


def test_scans_prune_unused_columns(spark, pages, lex):
    """Column pruning must reach the parquet scan: documents.parquet has
    an n_chars column no scoring path uses — it must be absent from every
    ReadSchema (a scan reading all columns for a 4-column projection is
    wrong at 100 TB)."""
    for df in (
        compute_sentiment_udf(pages, lex, "counts", mode="unigram", validate_langs="skip"),
        rollup(score_to_bucket_partials(
            pages, lex, "counts", "equal_weight", by="day", validate_langs="skip"), "day"),
    ):
        p = plan_of(df)
        schemas = re.findall(r"ReadSchema: (\S+)", p)
        assert schemas, p
        for s in schemas:
            assert "n_chars" not in s, p


def test_near_dup_and_ann_plans_never_cartesian(spark):
    """Candidate generation must be a bounded equi-join on (band/bucket)
    keys — a CartesianProduct or BroadcastNestedLoopJoin here is the
    all-pairs blow-up the LSH/banding design exists to avoid. (The one
    sanctioned crossJoin is brute-force knn against a BROADCAST query set.)"""
    import numpy as np

    from sentometrics_spark.textops.dedup import minhash_dedup_candidates, simhash_near_pairs
    from sentometrics_spark.textops.similarity import lsh_topk

    docs = spark.createDataFrame(
        [(i, "spark fast query engine row " + "x" * (i % 5)) for i in range(30)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    qv = emb.filter("vec_id < 2").selectExpr("vec_id as q_id", "embedding as q_emb")
    for df in (
        simhash_near_pairs(docs, id_col="doc_id"),
        minhash_dedup_candidates(docs, k=8, bands=4),
        lsh_topk(emb.filter("vec_id >= 2"), qv, k=3, bits=4, n_tables=2, dim=8),
    ):
        p = plan_of(df)
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p


def test_attributions_docs_broadcasts_small_sides(spark):
    """R8 per-document attribution is the one user-facing join family in
    the model layer: doc-level sentiment x realized weights (both O(docs))
    against the contracted coef-x-kernel table cw(lexicon, feature,
    lag_index) — O(measures x lag), tiny at any scale. The timeweight
    dimension is summed out of the (pred_ts, url) output, so cw joins as
    ONE broadcast EQUI-join fanning each doc row to its lag positions:
    no nested-loop join anywhere in the plan (the pre-round-5 form paid a
    BroadcastNestedLoopJoin per timeweight and docs x T x lag exploded
    rows), and never a CartesianProduct (two unbroadcast sides)."""
    from sentometrics_spark import entry_queries as eq

    df = eq.queries()["attrib_docs_latest"](spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # the only nested-loop joins left are broadcast, and they are the
    # measures_fill grid spine (distinct measure keys x bucket sequence,
    # both tiny) — one per panel scan (the idx and tgt branches each
    # re-scan filled_docagg). The attribution's own kernel fan-out is the
    # broadcast EQUI-join on cw: 0 NLJs of its own.
    # formatted mode lists every node once as a "(N) Name" detail header,
    # whether it is a left (:-) or right (+-) child in the tree
    tree_nodes = re.findall(r"^\(\d+\) (\w*NestedLoopJoin)\b", p, flags=re.M)
    assert all(n == "BroadcastNestedLoopJoin" for n in tree_nodes), p
    assert len(tree_nodes) == 2, p


def test_attributions_lags_broadcasts_small_sides(spark):
    """R8 per-lag attribution (VERDICT r5 next-round item 5): the lags
    path shares the _indexed spine joins with attributions_docs — the
    kernel table and the coef table join by broadcast EQUI-join, the
    target-slot map is a broadcast, and the panel-sized source never
    meets a CartesianProduct. The one nested-loop join is broadcast and
    is the deliberate kernel fan-out (join on lit(True) against the
    O(n_kernels x lag) kernel_df — tiny at any scale)."""
    from sentometrics_spark import entry_queries as eq

    df = eq.queries()["attrib_lags"](spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # formatted mode lists every node once as a "(N) Name" detail header,
    # whether it is a left (:-) or right (+-) child in the tree
    tree_nodes = re.findall(r"^\(\d+\) (\w*NestedLoopJoin)\b", p, flags=re.M)
    assert all(n == "BroadcastNestedLoopJoin" for n in tree_nodes), p


def test_round4_timeseries_plan_shapes(spark):
    """bucket_trend is ONE Exchange (a single groupBy carrying the five
    sufficient statistics — no window, no join); acf re-uses the series
    Exchange for its window + per-series groupBy and joins num/den by
    BROADCAST (a SortMergeJoin on series keys would re-shuffle); seasonal
    joins its bounded phase-effect tables back by broadcast only. All
    three stay JVM-side."""
    from pyspark.sql import functions as F

    from sentometrics_spark.aggregate.timeseries import (
        acf,
        bucket_trend,
        seasonal_decompose,
    )

    ev = spark.createDataFrame(
        [("a", "2024-01-01 00:%02d:00" % (i % 60), float(i), i) for i in range(120)],
        "g string, s string, value double, event_id int",
    ).select("g", F.col("s").cast("timestamp").alias("ts"), "value", "event_id")

    def exec_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = exec_plan(bucket_trend(ev, series_keys=["g"], by="hour"))
    assert p.count("Exchange") == 1, p
    assert "Join" not in p, p

    p = exec_plan(acf(ev, 3, series_keys=["g"], tiebreak="event_id"))
    assert "Join" not in p, p
    # hashpartitioning(series) already satisfies the (series, lag) groupBy
    # distribution, so the whole op is ONE Exchange
    assert p.count("Exchange") == 1, p

    p = plan_of(seasonal_decompose(ev.drop("event_id"), 4, series_keys=["g"]))
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p

    for name in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        for q in (
            plan_of(bucket_trend(ev, series_keys=["g"])),
            plan_of(acf(ev, 3, series_keys=["g"])),
        ):
            assert name not in q, name


def test_repeated_spans_plan_bounded(spark):
    """Span-level dedup stays bounded-key end to end: no CartesianProduct
    and no NestedLoopJoin anywhere. Round 6 replaced the
    groupBy(g) + join-back with a single window count over the gram hash
    (the aggregate and probe sides were separate exchanges, so the gram
    generation ran twice) — the plan now has NO join at all and exactly
    one Generate (the posexplode of the Arrow kernel's per-doc gram
    array)."""
    from sentometrics_spark.textops.dedup import repeated_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    p = plan_of(repeated_spans(docs, n=8, min_repeats=2))
    assert "CartesianProduct" not in p, p
    assert "NestedLoopJoin" not in p, p
    assert "SortMergeJoin" not in p, p  # repeated-gram flag is a window now
    assert "Generate" in p, p  # the posexplode of gram positions
    assert p.count("Window") >= 2, p  # gram-count window + span-merge window


def test_lsh_topk_single_corpus_scan(spark):
    """The round-5 LSH rewrite computes EVERY hash table's bucket in one
    pass (posexplode over the per-table bucket expressions): the plan
    scans the embeddings relation once per join side — not once per
    table — and the query side joins by broadcast."""
    from pyspark.sql import functions as F

    from sentometrics_spark.textops.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    p = plan_of(lsh_topk(emb, q, k=5, bits=8, n_tables=4, dim=64))
    # corpus side scanned once + query side (built from the same parquet)
    # once: 2 scan NODES total regardless of n_tables=4 (formatted mode
    # prints each node twice — count the detail headers)
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 2, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
