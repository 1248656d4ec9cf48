"""Structured Streaming ingest (micro-batch -> hour-tier partials) and
checkpoint/resume semantics (resume-equals-cold-run)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.tiers import base_tier, rollup
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
from sentometrics_spark.storage.checkpoint import CheckpointedRun, partition_key_col
from sentometrics_spark import streaming

KEY = ["bucket_ts", "lexicon", "feature"]


def test_stream_equals_batch(spark, pages, tmp_path):
    """availableNow micro-batch run over file chunks must produce a
    finalized hour tier identical to the batch tier over the whole input."""
    lex = Lexicons(lex=fixture_lexicons().lex)
    src = str(tmp_path / "incoming")
    # write the corpus as 4 file chunks (micro-batches)
    pages.withColumn("part", (F.crc32("url") % 4).cast("int")).repartition(
        "part"
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).drop("part").schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 2)
        .load(src)
    )
    q = streaming.stream_events_tier(
        stream,
        lambda df: base_tier(
            compute_sentiment_udf(df, lex, "proportional", mode="unigram"),
            "proportional",
            by="hour",
        ),
        partials_path=str(tmp_path / "partials"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = (
        rollup(spark.read.parquet(str(tmp_path / "partials")), "hour")
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram")
    exp = (
        base_tier(sent, how="proportional", by="hour")
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["value"], exp["value"], atol=1e-12, rtol=1e-9)

    # compaction preserves the finalized tier
    streaming.compact_partials(spark, str(tmp_path / "partials"))
    got2 = (
        rollup(spark.read.parquet(str(tmp_path / "partials")), "hour")
        .select(*KEY, "value")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(got2["value"], exp["value"], atol=1e-12, rtol=1e-9)


def _score_fn(lex):
    def fn(df):
        return compute_sentiment_udf(df, lex, "counts", mode="unigram")

    return fn


def test_checkpoint_resume_equals_cold_run(spark, pages, tmp_path):
    lex = Lexicons(lex=fixture_lexicons().lex)

    # cold run: everything in one go
    cold = CheckpointedRun(spark, str(tmp_path / "cold"))
    m1 = cold.run(pages, _score_fn(lex), batch_partitions=1000)
    assert m1["partitions"] > 0 and m1["rows_out"] > 0

    # interrupted run: process only the first batch of partitions, then
    # resume with a second CheckpointedRun over the same root
    inter = CheckpointedRun(spark, str(tmp_path / "inter"), run_id="first")
    keyed = pages.withColumn("__pk", partition_key_col())
    some_keys = [r["__pk"] for r in keyed.select("__pk").distinct().limit(40).collect()]
    part1 = keyed.filter(F.col("__pk").isin(some_keys)).drop("__pk")
    inter.run(part1, _score_fn(lex), batch_partitions=1000)
    done_before = inter.done_keys().count()
    assert done_before > 0

    resumed = CheckpointedRun(spark, str(tmp_path / "inter"), run_id="resume")
    m2 = resumed.run(pages, _score_fn(lex), batch_partitions=1000)
    # resume processed only the pending partitions
    assert resumed.done_keys().count() > done_before
    assert m2["partitions"] == resumed.done_keys().count() - done_before

    a = cold.results().toPandas().sort_values(["url", "lexicon", "feature"]).reset_index(drop=True)
    b = resumed.results().toPandas().sort_values(["url", "lexicon", "feature"]).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_allclose(a["score"], b["score"], atol=1e-12)


def test_pending_is_empty_after_full_run(spark, pages, tmp_path):
    lex = Lexicons(lex=fixture_lexicons().lex)
    run = CheckpointedRun(spark, str(tmp_path / "full"))
    run.run(pages, _score_fn(lex), batch_partitions=1000)
    assert run.pending(pages).count() == 0
    # idempotent re-run: no new work
    m = run.run(pages, _score_fn(lex), batch_partitions=1000)
    assert m["partitions"] == 0


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """applyInPandasWithState gap sessionization over 3 micro-batches must
    emit exactly the batch sessionization's sessions once the watermark
    passes them. A sentinel user's far-future events push the watermark so
    every real session closes by stream end."""
    import pandas as pd

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("user_id") < 25)
        .select("user_id", "ts", "value")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(ev) > 50
    max_ts = ev["ts"].max()
    half = len(ev) // 2
    src = tmp_path / "sess_src"
    src.mkdir()
    sent1 = pd.DataFrame(
        {"user_id": [999999], "ts": [max_ts + pd.Timedelta(days=10)], "value": [0.0]}
    )
    sent2 = pd.DataFrame(
        {"user_id": [999999], "ts": [max_ts + pd.Timedelta(days=20)], "value": [0.0]}
    )
    # in-ts-order files: batch N's watermark = max event time of batch N-1
    kw = {"coerce_timestamps": "us", "allow_truncated_timestamps": True}
    ev.iloc[:half].to_parquet(src / "f1.parquet", index=False, **kw)
    pd.concat([ev.iloc[half:], sent1]).to_parquet(src / "f2.parquet", index=False, **kw)
    sent2.to_parquet(src / "f3.parquet", index=False, **kw)

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out = streaming.stream_sessionize(stream, gap_min=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM sessions_out")
        .filter(F.col("user_id") != 999999)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    # batch oracle: per-user gap split in pandas
    exp_rows = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values("ts")
        cur = None
        for t, v in zip(g["ts"], g["value"]):
            if cur is None or (t - cur["end"]).total_seconds() > 1800:
                if cur is not None:
                    exp_rows.append((uid, cur["start"], cur["end"], cur["n"], cur["sv"]))
                cur = {"start": t, "end": t, "n": 1, "sv": v}
            else:
                cur["end"] = t
                cur["n"] += 1
                cur["sv"] += v
        exp_rows.append((uid, cur["start"], cur["end"], cur["n"], cur["sv"]))
    exp = (
        pd.DataFrame(
            exp_rows,
            columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
        )
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp), (len(got), len(exp))
    for c in ["user_id", "session_start", "session_end", "n_events"]:
        assert got[c].tolist() == exp[c].tolist(), c
    np.testing.assert_allclose(got["sum_value"], exp["sum_value"], atol=1e-9)


@pytest.mark.parametrize("seed", [3, 11])
def test_stream_sessionize_randomized(spark, tmp_path, seed):
    """Randomized stream==batch: synthetic events with bursty gaps, split
    into 3 ts-ordered micro-batches at random cut points (events within a
    batch arrive UNORDERED — the kernel sorts per batch)."""
    import pandas as pd

    rng = np.random.RandomState(seed)
    rows = []
    t0 = pd.Timestamp("2024-03-01")
    for uid in range(12):
        t = t0 + pd.Timedelta(minutes=int(rng.randint(0, 120)))
        for _ in range(rng.randint(5, 40)):
            # mixture of intra-session (<30min) and new-session gaps
            gap_min = float(rng.choice([1, 5, 20, 45, 120], p=[0.4, 0.3, 0.1, 0.1, 0.1]))
            t = t + pd.Timedelta(minutes=gap_min)
            rows.append((uid, t, float(rng.normal())))
    ev = pd.DataFrame(rows, columns=["user_id", "ts", "value"]).sort_values("ts").reset_index(drop=True)
    cuts = sorted(rng.choice(np.arange(1, len(ev) - 1), size=2, replace=False))
    parts = [ev.iloc[: cuts[0]], ev.iloc[cuts[0] : cuts[1]], ev.iloc[cuts[1] :]]

    src = tmp_path / "rand_src"
    src.mkdir()
    kw = {"coerce_timestamps": "us", "allow_truncated_timestamps": True}
    max_ts = ev["ts"].max()
    for i, p in enumerate(parts):
        # shuffle WITHIN the batch (kernel must sort); append watermark
        # sentinels to the last batch + a flush file
        p = p.sample(frac=1.0, random_state=seed + i)
        if i == len(parts) - 1:
            p = pd.concat([p, pd.DataFrame(
                {"user_id": [999999], "ts": [max_ts + pd.Timedelta(days=5)], "value": [0.0]})])
        p.to_parquet(src / f"f{i}.parquet", index=False, **kw)
    pd.DataFrame({"user_id": [999999], "ts": [max_ts + pd.Timedelta(days=10)], "value": [0.0]}).to_parquet(
        src / "f9.parquet", index=False, **kw)

    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    qname = f"rand_sessions_{seed}"
    q = (
        streaming.stream_sessionize(stream, gap_min=30)
        .writeStream.format("memory").queryName(qname).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"SELECT * FROM {qname}")
        .filter(F.col("user_id") != 999999)
        .toPandas().sort_values(["user_id", "session_start"]).reset_index(drop=True)
    )

    exp_rows = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values("ts")
        cur = None
        for t, v in zip(g["ts"], g["value"]):
            if cur is None or (t - cur["end"]).total_seconds() > 1800:
                if cur is not None:
                    exp_rows.append((uid, cur["start"], cur["end"], cur["n"], cur["sv"]))
                cur = {"start": t, "end": t, "n": 1, "sv": v}
            else:
                cur["end"], cur["n"], cur["sv"] = t, cur["n"] + 1, cur["sv"] + v
        exp_rows.append((uid, cur["start"], cur["end"], cur["n"], cur["sv"]))
    exp = pd.DataFrame(exp_rows, columns=["user_id", "session_start", "session_end", "n_events", "sum_value"]) \
        .sort_values(["user_id", "session_start"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["user_id", "session_start", "session_end", "n_events"]:
        assert got[c].tolist() == exp[c].tolist(), c
    np.testing.assert_allclose(got["sum_value"], exp["sum_value"], atol=1e-9)


def test_stream_refresh_tiers_equals_batch(spark, pages, tmp_path):
    """Streaming tier maintenance: after an availableNow run over file
    chunks, every materialized tier (hour/day/week/month) equals the
    one-shot batch build over the whole input."""
    import numpy as np

    from sentometrics_spark.aggregate.tiers import TierStore, build_all_tiers

    lex = Lexicons(lex=fixture_lexicons().lex)
    src = str(tmp_path / "incoming_tiers")
    pages.withColumn("part", (F.crc32("url") % 3).cast("int")).repartition(
        "part"
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).drop("part").schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    store = TierStore(spark, str(tmp_path / "tiers_stream"))
    q = streaming.stream_refresh_tiers(
        stream, lex, store, checkpoint_path=str(tmp_path / "ckpt_tiers")
    )
    q.awaitTermination(240)

    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram")
    full = build_all_tiers(sent, "proportional")
    for tier in ("hour", "day", "week", "month"):
        got = (
            store.read(tier).select(*KEY, "value").toPandas()
            .sort_values(KEY).reset_index(drop=True)
        )
        exp = (
            full[tier].select(*KEY, "value").toPandas()
            .sort_values(KEY).reset_index(drop=True)
        )
        assert len(got) == len(exp), tier
        np.testing.assert_allclose(
            got["value"].to_numpy(), exp["value"].to_numpy(), rtol=1e-9, atol=1e-12
        )


def test_stream_events_tiers_equal_batch(spark, sf_dir, tmp_path):
    """Generic tier streaming: histogram counts finalize BIT-IDENTICAL to
    the batch histogram; HLL/KLL sketch tiers finalize with exactly
    additive n_rows and in-bound estimates — all from per-batch partials,
    no raw-event reprocessing at finalize time."""
    from sentometrics_spark.aggregate.timeseries import (
        bucket_histogram,
        hll_distinct_rollup,
        hll_distinct_tier,
        kll_quantile_rollup,
        kll_quantile_tier,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "incoming")
    ev.withColumn("part", (F.crc32(F.col("event_id").cast("string")) % 4).cast("int")) \
        .repartition("part").write.partitionBy("part").mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).drop("part").schema

    def mkstream():
        return (
            spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 2).load(src)
        )

    # histogram: exact equality stream vs batch
    q = streaming.stream_events_tier(
        mkstream(),
        lambda df: bucket_histogram(df, 0.0, 500.0, 20, by="hour"),
        partials_path=str(tmp_path / "hist_partials"),
        checkpoint_path=str(tmp_path / "hist_ckpt"),
    )
    q.awaitTermination(120)
    got = (
        streaming.finalize_histogram_tier(spark, str(tmp_path / "hist_partials"))
        .toPandas().set_index(["bucket_ts", "bin"]).sort_index()
    )
    exp = (
        bucket_histogram(ev, 0.0, 500.0, 20, by="hour")
        .toPandas().set_index(["bucket_ts", "bin"]).sort_index()
    )
    assert (got.n == exp.n).all() and len(got) == len(exp)
    assert (got.bin_lo == exp.bin_lo).all()

    # hll: n_rows exact, estimate within the lgk=12 bound of exact distinct
    q = streaming.stream_events_tier(
        mkstream(),
        lambda df: hll_distinct_tier(df, key="user_id", by="day"),
        partials_path=str(tmp_path / "hll_partials"),
        checkpoint_path=str(tmp_path / "hll_ckpt"),
    )
    q.awaitTermination(120)
    hll = (
        hll_distinct_rollup(spark.read.parquet(str(tmp_path / "hll_partials")), to="day")
        .toPandas().set_index("bucket_ts").sort_index()
    )
    exact = (
        ev.select(F.date_trunc("day", "ts").alias("bucket_ts"), "user_id")
        .distinct().groupBy("bucket_ts").count()
        .toPandas().set_index("bucket_ts").sort_index()
    )
    assert (hll.n_rows.sum() == ev.count())
    rel = ((hll.estimate - exact["count"]).abs() / exact["count"]).max()
    assert rel < 0.05, rel

    # kll: n_rows additive; p50 between per-day min/max
    q = streaming.stream_events_tier(
        mkstream(),
        lambda df: kll_quantile_tier(df, by="day", k=200),
        partials_path=str(tmp_path / "kll_partials"),
        checkpoint_path=str(tmp_path / "kll_ckpt"),
    )
    q.awaitTermination(120)
    kll = (
        kll_quantile_rollup(spark.read.parquet(str(tmp_path / "kll_partials")), to="day")
        .toPandas().set_index("bucket_ts").sort_index()
    )
    agg = (
        ev.groupBy(F.date_trunc("day", "ts").alias("bucket_ts"))
        .agg(F.count("value").alias("n"), F.min("value").alias("lo"),
             F.max("value").alias("hi"))
        .toPandas().set_index("bucket_ts").sort_index()
    )
    assert (kll.n_rows == agg.n).all()
    assert (kll.p50 >= agg.lo).all() and (kll.p50 <= agg.hi).all()

    # replay idempotence: re-running the SAME stream from a fresh
    # checkpoint rewrites per-batch partitions, never duplicates
    q = streaming.stream_events_tier(
        mkstream(),
        lambda df: bucket_histogram(df, 0.0, 500.0, 20, by="hour"),
        partials_path=str(tmp_path / "hist_partials"),
        checkpoint_path=str(tmp_path / "hist_ckpt2"),
    )
    q.awaitTermination(120)
    again = (
        streaming.finalize_histogram_tier(spark, str(tmp_path / "hist_partials"))
        .toPandas().set_index(["bucket_ts", "bin"]).sort_index()
    )
    assert (again.n == exp.n).all() and len(again) == len(exp)
