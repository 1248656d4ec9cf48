"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The corpus is replicated REPLICATE x (deterministic doc_id/url offsets) so
the scoring stage processes a meaningful volume (sf0.1 has 5k docs ->
default 40x = 200k docs, the reference's published benchmark size).

Scaling mode (north rule evidence): `python bench.py --scaling` runs the
SAME flagship job in two fresh JVMs at local[8] and local[32] and reports
throughput at both plus efficiency = (T8/T32)/4; results are appended by
hand to BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "40"))


def get_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sentometrics-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # NOT sized to the box's 128 GiB: an oversized G1 heap makes the
        # local-mode JVM thrash in kernel space (63% sys CPU in mmap/futex
        # at local[32] with 48g), starving the Python workers. Measured on
        # the 5M-doc fused job: 48g -> 141k docs/s, 8g -> 676k docs/s
        # (4.8x) and 2->8 scaling efficiency 0.34 -> 0.96. The engine's
        # shuffle state is tiny (bucket-level partials), so 8g is ample.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_HEAP", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def replicated_pages(spark, sf_dir: str, rep: int):
    """Deterministically replicate the corpus rep x with unique urls.
    warc_ts is kept, so per-bucket density grows with rep (the realistic
    scale-up direction for a fixed time range)."""
    from pyspark.sql import functions as F

    from sentometrics_spark.corpus import build_pages

    pages = build_pages(spark, sf_dir, with_html=False)
    # the source parquet is a single file => a single input partition; spread
    # the docs across all cores BEFORE the replication crossJoin so the
    # rep-x expansion happens in every task, not one (on a real cluster the
    # Iceberg scan would already be split by file/row-group)
    cpus = spark.sparkContext.defaultParallelism
    pages = pages.repartition(cpus * 4)
    if rep > 1:
        reps = spark.range(rep).select(F.col("id").alias("rep"))
        pages = pages.crossJoin(F.broadcast(reps)).withColumn(
            "url", F.concat_ws("#", "url", F.col("rep").cast("string"))
        ).drop("rep")
    return pages


def force(df) -> int:
    """Materialize a DataFrame fully (noop sink) and return its row count."""
    from pyspark.sql import functions as F

    return df.agg(F.count("*")).collect()[0][0]


def run_benchmarks(cpus: int, sf_dir: str, q1_only: bool = False) -> dict:
    from pyspark.sql import functions as F

    from sentometrics_spark.aggregate.doc_agg import aggregate_docs
    from sentometrics_spark.aggregate.kernels import setup_time_weights
    from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
    from sentometrics_spark.config import TimeKernelSpec
    from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
    from sentometrics_spark import entry_queries as eq
    from sentometrics_spark.textops.dedup import decontaminate as _decontaminate
    from sentometrics_spark.textops.dedup import minhash_lsh_buckets as _minhash_buckets
    from sentometrics_spark.textops.textstats import gopher_quality as _gopher
    from sentometrics_spark.textops.dedup import simhash_near_pairs as _simhash_pairs
    from sentometrics_spark.textops.dedup import repeated_spans as _repeated_spans
    from sentometrics_spark.textops.textstats import lm_cross_entropy as _lm_ce
    from sentometrics_spark.aggregate.timeseries import asof_join as _asof_join
    from sentometrics_spark.aggregate.timeseries import ewma_time_decay as _ewma
    from sentometrics_spark.aggregate.timeseries import funnel_stages as _funnel

    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = replicated_pages(spark, sf_dir, REPLICATE).cache()
    n_docs = pages.count()
    # events replicated with disjoint user spaces per replica (asof bench):
    # sf0.1 -> 2M events over 30k users
    ev0 = spark.read.parquet(f"{sf_dir}/events.parquet")
    reps_ev = spark.range(20).select(F.col("id").alias("rep"))
    events = (
        ev0.repartition(spark.sparkContext.defaultParallelism * 2)
        .crossJoin(F.broadcast(reps_ev))
        .withColumn("user_id", F.col("user_id") + F.col("rep") * 1_000_000)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 100_000_000)
        .drop("rep")
        .cache()
    )
    events.count()
    lex = fixture_lexicons()
    lex_nv = Lexicons(lex=lex.lex)

    # warm-up: spawn + import the Python UDF workers once so per-query
    # timings measure compute, not interpreter startup
    compute_sentiment_udf(pages.limit(2000), lex_nv, "counts", mode="unigram").count()

    # interleaved min-of-N: the whole suite repeats BENCH_RUNS times in
    # order (so ambient load on this shared box hits every query equally);
    # reported timing = min per query, plus per-query medians and the
    # max-min spread so round-over-round deltas stay readable when one
    # snapshot catches a load spike (VERDICT r3 next-9: r3's driver
    # snapshot had a 19.4 s spread on a 3.5 s median). Default raised
    # 3 -> 5 runs for the same reason.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    all_timings: dict[str, list[float]] = {}
    timings: dict[str, float] = {}
    extra: dict = {"n_docs": n_docs, "replicate": REPLICATE, "cpus": cpus}

    def timed(name: str, fn) -> float:
        t0 = time.time()
        n = fn()
        dt = time.time() - t0
        all_timings.setdefault(name, []).append(dt)
        timings[name] = round(min(all_timings[name]), 3)
        return n

    # q1: flagship — full pipeline, UDF scoring engine (the scale path)
    def q1():
        sent = compute_sentiment_udf(pages, lex_nv, "proportional", mode="unigram")
        m = aggregate_docs(sent, by="hour", how="proportional", keep_partials=False).persist()
        filled = measures_fill(m.select("bucket_ts", "lexicon", "feature", "value"), by="hour", fill="zero")
        kernels = setup_time_weights((TimeKernelSpec("almon", orders_alm=(1, 2)),), 24)
        n = force(aggregate_time(filled, kernels, 24, check_lag=False))
        m.unpersist()
        return n

    # q5: doc aggregation + fill + rolling on day tier
    def q5():
        sent = compute_sentiment_udf(pages, lex_nv, "proportional", mode="unigram")
        m = aggregate_docs(sent, by="day", how="equal_weight", keep_partials=False).persist()
        filled = measures_fill(m.select("bucket_ts", "lexicon", "feature", "value"), by="day", fill="zero")
        kernels = setup_time_weights((TimeKernelSpec("exponential", alphas_exp=(0.1, 0.3)),), 7)
        n = force(aggregate_time(filled, kernels, 7, check_lag=False))
        m.unpersist()
        return n

    # q8: fused scoring + map-side bucket pre-aggregation (the 100TB path:
    # the shuffle sees per-batch partials, not per-doc long rows)
    def q8():
        from sentometrics_spark.aggregate.tiers import rollup
        from sentometrics_spark.scoring.fused import score_to_bucket_partials

        return force(rollup(
            score_to_bucket_partials(pages, lex_nv, "proportional", "proportional", by="hour"),
            "hour",
        ))

    def _attrib_docs_bench():
        import pandas as pd

        from sentometrics_spark.aggregate.doc_agg import doc_weights
        from sentometrics_spark.model.attribution import attributions_docs, coef_df

        # attribution consumes a MATERIALIZED panel in production (the
        # measures are stored tiers, the doc sentiment a stored score
        # table) — persist both inside the timed run (the q1 pattern) so
        # the measured work is score-once + the attribution join family,
        # not N recomputations of the unpersisted scoring subtree that
        # attributions_docs references from several join branches
        sent = compute_sentiment_udf(pages, lex_nv, "proportional", mode="unigram").persist()
        m = aggregate_docs(sent, by="day", how="equal_weight", keep_partials=False)
        filled = measures_fill(
            m.select("bucket_ts", "lexicon", "feature", "value"),
            by="day", fill="latest", keep_source=True,
        ).persist()
        kernels = eq._kernels_for(eq._ALMON2, 7)
        keys = sorted(
            (r["lexicon"], r["feature"])
            for r in filled.select("lexicon", "feature").distinct().collect()
        )
        coefs = pd.Series({
            f"{lx}--{ft}--{tw}": eq._attrib_coef(lx, ft, tw)
            for lx, ft in keys for tw in kernels
        })
        w = doc_weights(sent, by="day", how="equal_weight")
        n = force(attributions_docs(
            sent, w, filled, coef_df(spark, coefs), kernels, 7, "day"
        ))
        sent.unpersist()
        filled.unpersist()
        return n

    suite: list[tuple[str, object]] = [
        ("q1_pipeline_udf_hour_almon24", q1),
    ]
    if not q1_only:
        suite += [
            # q2: scoring only, UDF engine (vs reference ~5.3k docs/s/core)
            ("q2_score_udf_counts", lambda: force(
                compute_sentiment_udf(pages, lex_nv, "counts", mode="unigram"))),
            # q4: valence cluster engine (sequential per-doc kernel)
            ("q4_score_udf_cluster", lambda: force(
                compute_sentiment_udf(pages, lex, "counts", mode="cluster"))),
            ("q5_pipeline_udf_day", q5),
            # q6: dedup fingerprint (exact dup groups = rep)
            ("q6_dedup_fingerprint", lambda: force(eq.q_dedup_fingerprint(spark, sf_dir))),
            # q7: brute-force knn
            ("q7_knn_cosine", lambda: force(eq.q_knn_cosine(spark, sf_dir))),
            ("q8_fused_score_agg", q8),
            # q9/q10: training-data curation path at the same 200k-doc scale
            # (gopher repetition gate; MinHash-LSH near-dup buckets on the
            # production xxhash64 leaf)
            ("q9_gopher_quality", lambda: force(
                _gopher(pages.select(F.col("url").alias("doc_id"), "text")))),
            ("q10_minhash_buckets", lambda: force(
                _minhash_buckets(pages.select(F.col("url").alias("doc_id"), "text")))),
            # q11/q12 (new in round 3): unigram-LM quality gate and
            # benchmark decontamination at the same 200k-doc scale
            ("q11_lm_cross_entropy", lambda: force(
                _lm_ce(pages.select(F.col("url").alias("doc_id"), "text")))),
            ("q12_decontaminate", lambda: force(
                _decontaminate(
                    pages.select(F.col("url").alias("doc_id"), "text"),
                    pages.select(F.col("url").alias("doc_id"), "text")
                    .filter(F.crc32("url") % 100 == 0),
                ))),
            # q13 (new in round 4): SimHash near-pairs on the replicated
            # (hence massively duplicated) corpus — every distinct text's
            # REPLICATE copies share all band chunks, so this exercises
            # exactly the degenerate-bucket star-pair cap
            ("q13_simhash_pairs", lambda: force(
                _simhash_pairs(
                    pages.select(F.col("url").alias("doc_id"), "text"),
                    max_bucket_size=32,
                ))),
            # q14 (new in round 4): as-of join at 2M events / 30k users —
            # the union-window form's single Exchange, clicks picking up
            # the most recent per-user view value within 1h
            ("q14_asof_events", lambda: force(
                _asof_join(
                    events.filter(F.col("event_type") == "click")
                    .select("event_id", "ts", "user_id"),
                    events.filter(F.col("event_type") == "view")
                    .select("user_id", "ts", F.col("value").alias("v")),
                    on="ts", by=["user_id"], payload=["v"],
                    direction="backward", tolerance_seconds=3600.0,
                ))),
            # q15 (new in round 4): time-decayed EWMA at 2M events / 30k
            # users — one ordered window per series carrying two running
            # prefix sums, the canonical smoothing pass over every series
            ("q15_ewma_events", lambda: force(
                _ewma(events, halflife_seconds=86400.0,
                      series_keys=["user_id"], tiebreak="event_id"))),
            # q16 (new in round 4): ordered funnel over the same 2M
            # events / 30k users — one groupBy(user) + a single JVM
            # aggregate fold walking the view->click->purchase cascade
            ("q16_funnel_events", lambda: force(
                _funnel(events, ["view", "click", "purchase"],
                        within_seconds=7 * 86400.0))),
            # q17 (new in round 5): R8 per-document attribution at suite
            # scale — score -> day panel (fill=latest, src_ts) -> doc-level
            # join of sentiment x realized weights x broadcast coef/kernel
            # grid, rolled to every prediction each document's bucket
            # feeds. The one user-facing join family that had no headline
            # number; the tiny coef/kernel sides broadcast (plan-tested in
            # tests/test_plans.py).
            ("q17_attrib_docs", _attrib_docs_bench),
            # q18 (new in round 5): span-level substring dedup
            # (ExactSubstr) on the replicated corpus — 40x replication
            # makes EVERY 8-gram repeated, so all ~60M gram positions
            # flag and every document merges to one full-length span:
            # the worst-case stress for the count+join+islands pipeline
            ("q18_repeated_spans", lambda: force(
                _repeated_spans(
                    pages.select(F.col("url").alias("doc_id"), "text"),
                    n=8, min_repeats=2))),
        ]

    n_points = 0
    for _run in range(n_runs):
        for name, fn in suite:
            n = timed(name, fn)
            if name == "q1_pipeline_udf_hour_almon24":
                n_points = n

    extra["rolled_points"] = n_points
    extra["points_per_sec"] = round(n_points / timings["q1_pipeline_udf_hour_almon24"], 1)
    extra["docs_per_sec_q1"] = round(n_docs / timings["q1_pipeline_udf_hour_almon24"], 1)
    extra["runs"] = n_runs
    extra["spread_sec"] = {
        k: round(max(v) - min(v), 3) for k, v in all_timings.items()
    }
    import statistics

    extra["median_sec"] = {
        k: round(statistics.median(v), 3) for k, v in all_timings.items()
    }
    if not q1_only:
        extra["docs_per_sec_q2"] = round(n_docs / timings["q2_score_udf_counts"], 1)
        extra["docs_per_sec_q8"] = round(n_docs / timings["q8_fused_score_agg"], 1)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "flagship_wall_sec" if q1_only else "headline_suite_wall_sec",
        "value": timings["q1_pipeline_udf_hour_almon24"] if q1_only else total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        **extra,
    }
    # The driver records only the TAIL ~2000 chars of the printed line
    # (BENCH_r04 lost the per-query mins to truncation), so the headline
    # line must stay compact: each cached two-parallelism scaling probe
    # (the north-rule evidence) contributes its efficiency + throughputs
    # as a small summary, and the full blobs + per-run medians/spreads go
    # to BENCH/suite_details.json instead of the stdout line.
    details = {
        "median_sec": result.pop("median_sec", None),
        "spread_sec": result.pop("spread_sec", None),
    }
    result["spread_max_sec"] = (
        max(details["spread_sec"].values()) if details["spread_sec"] else None
    )
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    for key, fname in (
        ("scaling", "scaling.json"),
        ("scaling_events", "scaling_events.json"),
        ("scaling_acf", "scaling_acf.json"),
        ("scaling_attrib", "scaling_attrib.json"),
    ):
        cache = os.path.join(bench_dir, fname)
        if os.path.isfile(cache):
            try:
                with open(cache) as f:
                    blob = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            details[key] = blob
            result[key] = {
                "efficiency": blob.get("value"),
                "job": blob.get("job"),
                "details": f"BENCH/{fname}",
            }
    try:
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "suite_details.json"), "w") as f:
            json.dump({**result, **details}, f, indent=1)
    except OSError:
        pass
    spark.stop()
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if "--scaling" in sys.argv:
        # North-rule scaling evidence: the SAME production job at two
        # parallelism levels (fresh JVM each), interleaved min-of-N. The
        # job is the 100 TB path: parquet scan -> fused scoring + map-side
        # bucket partials -> finalize. The corpus is materialized to
        # parquet ONCE so both levels scan files exactly as a cluster
        # executor would (an Iceberg scan splits by file/row-group); a
        # driver-cached crossJoin source would instead bottleneck on the
        # block manager and understate scaling. Default pair 2 -> 8;
        # override with SPARK_GRAFT_SCALE_N (e.g. 8 -> 32).
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_high = 4 * n_low
        n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "1000"))
        src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "")
        if not src:
            # keyed by sf AND rep so a corpus from another scale factor is
            # never silently reused
            src = f"/tmp/bench_pages_{os.path.basename(sf_dir.rstrip('/'))}_rep{rep}"
            if not os.path.isdir(src):
                spark = get_spark(8)
                spark.sparkContext.setLogLevel("ERROR")
                replicated_pages(spark, sf_dir, rep).write.mode("overwrite").parquet(src)
                spark.stop()
        times: dict[int, list[float]] = {n_low: [], n_high: []}
        docs = {n_low: 0, n_high: 0}
        # interleave the two levels so ambient load on this shared box hits
        # both equally; take the MIN time per level (the noise-robust
        # statistic for throughput)
        for _ in range(n_runs):
            for c in (n_low, n_high):
                out = subprocess.run(
                    [sys.executable, __file__, "--once", "--fused-scaling",
                     f"--cpus={c}", f"--src={src}"],
                    capture_output=True,
                    text=True,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    sys.stderr.write(out.stdout + out.stderr)
                    raise SystemExit(1)
                r = json.loads(lines[-1])
                times[c].append(r["t_sec"])
                docs[c] = r["n_docs"]
        t_low, t_high = min(times[n_low]), min(times[n_high])
        eff = (t_low / t_high) / 4.0
        result = {
            "metric": f"scaling_efficiency_{n_low}_to_{n_high}",
            "value": round(eff, 3),
            "unit": "ratio",
            "job": "fused_score_hour_partials_parquet_scan",
            f"t_local{n_low}_sec": t_low,
            f"t_local{n_high}_sec": t_high,
            f"docs_per_sec_local{n_low}": round(docs[n_low] / t_low, 1),
            f"docs_per_sec_local{n_high}": round(docs[n_high] / t_high, 1),
            "all_times": {str(k): v for k, v in times.items()},
            "runs": n_runs,
            "n_docs": docs[n_high],
            "sf": sf_dir,
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # cache for the default-mode JSON so BENCH_r{N}.json carries the
        # north-rule two-parallelism evidence alongside the suite timings
        try:
            cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH", "scaling.json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump(result, f)
        except OSError:
            pass
        print(json.dumps(result))
        return

    if "--scaling-events" in sys.argv:
        # Second two-parallelism datapoint, over the EVENTS path: the
        # ordered-funnel job (filter -> groupBy(user) -> JVM cascade fold)
        # on a materialized 20M-event parquet corpus with disjoint user
        # spaces — the canonical irregular-event shuffle shape of the new
        # timeseries layer, complementing the sentiment-pipeline job in
        # --scaling. Same protocol: fresh JVM per level, interleaved
        # min-of-N.
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_high = 4 * n_low
        n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        rep = int(os.environ.get("SPARK_GRAFT_EV_REPLICATE", "2000"))
        src = f"/tmp/bench_events_{os.path.basename(sf_dir.rstrip('/'))}_rep{rep}"
        if not os.path.isdir(src):
            from pyspark.sql import functions as F

            spark = get_spark(8)
            spark.sparkContext.setLogLevel("ERROR")
            ev0 = spark.read.parquet(f"{sf_dir}/events.parquet")
            reps_ev = spark.range(rep).select(F.col("id").alias("rep"))
            (
                ev0.repartition(64)
                .crossJoin(F.broadcast(reps_ev))
                .withColumn("user_id", F.col("user_id") + F.col("rep") * 1_000_000)
                .withColumn("event_id", F.col("event_id") + F.col("rep") * 100_000_000)
                .drop("rep")
                .write.mode("overwrite").parquet(src)
            )
            spark.stop()
        times: dict[int, list[float]] = {n_low: [], n_high: []}
        rows = {n_low: 0, n_high: 0}
        for _ in range(n_runs):
            for c in (n_low, n_high):
                out = subprocess.run(
                    [sys.executable, __file__, "--once", "--funnel-scaling",
                     f"--cpus={c}", f"--src={src}"],
                    capture_output=True,
                    text=True,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    sys.stderr.write(out.stdout + out.stderr)
                    raise SystemExit(1)
                r = json.loads(lines[-1])
                times[c].append(r["t_sec"])
                rows[c] = r["n_events"]
        t_low, t_high = min(times[n_low]), min(times[n_high])
        eff = (t_low / t_high) / 4.0
        result = {
            "metric": f"events_scaling_efficiency_{n_low}_to_{n_high}",
            "value": round(eff, 3),
            "unit": "ratio",
            "job": "funnel_stages_parquet_scan",
            f"t_local{n_low}_sec": t_low,
            f"t_local{n_high}_sec": t_high,
            f"events_per_sec_local{n_low}": round(rows[n_low] / t_low, 1),
            f"events_per_sec_local{n_high}": round(rows[n_high] / t_high, 1),
            "all_times": {str(k): v for k, v in times.items()},
            "runs": n_runs,
            "n_events": rows[n_high],
            "sf": sf_dir,
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        try:
            cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH", "scaling_events.json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump(result, f)
        except OSError:
            pass
        print(json.dumps(result))
        return

    if "--scaling-attrib" in sys.argv:
        # Fourth two-parallelism datapoint: the JOIN-HEAVY shape —
        # attributions_docs' doc-sized SortMergeJoins (sentiment x
        # realized weights x panel index) + broadcast kernel fan-out +
        # final (pred_ts, url) aggregation. Complements the map-only
        # pipeline (--scaling), the per-key groupBy fold
        # (--scaling-events) and the per-series window (--scaling-acf):
        # with this, all four canonical Exchange patterns of the engine
        # have a north-rule datapoint. The sentiment table is synthesized
        # deterministically (SPARK_GRAFT_ATTRIB_DOCS docs x 4 measures over
        # 365 daily buckets; default 2.5M docs = 10M rows)
        # and materialized to parquet so both levels scan files; the job
        # is attribution ONLY — scoring cost is the --scaling probe's
        # subject, not this one's.
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_high = 4 * n_low
        n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        n_docs_synth = int(os.environ.get("SPARK_GRAFT_ATTRIB_DOCS", "2500000"))
        src = f"/tmp/bench_attrib_sent_{n_docs_synth}"
        if not os.path.isdir(src):
            from pyspark.sql import functions as F

            spark = get_spark(8)
            spark.sparkContext.setLogLevel("ERROR")
            (
                spark.range(n_docs_synth * 4)
                .select(
                    F.concat(F.lit("u"), (F.col("id") / 4).cast("long")).alias("url"),
                    F.timestamp_seconds(
                        F.lit(1704067200)  # 2024-01-01
                        + ((F.col("id") / 4).cast("long") % 365) * 86400
                        + ((F.col("id") / 4).cast("long") % 24) * 3600
                    ).alias("warc_ts"),
                    F.when((F.col("id") % 4) < 2, "LEXA").otherwise("LEXB").alias("lexicon"),
                    F.when((F.col("id") % 2) == 0, "f1").otherwise("f2").alias("feature"),
                    F.sin(F.col("id") * 0.001).alias("score"),
                )
                .repartition(64)
                .write.mode("overwrite").parquet(src)
            )
            spark.stop()
        times: dict[int, list[float]] = {n_low: [], n_high: []}
        rows = {n_low: 0, n_high: 0}
        for _ in range(n_runs):
            for c in (n_low, n_high):
                out = subprocess.run(
                    [sys.executable, __file__, "--once", "--attrib-scaling",
                     f"--cpus={c}", f"--src={src}"],
                    capture_output=True,
                    text=True,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    sys.stderr.write(out.stdout + out.stderr)
                    raise SystemExit(1)
                r = json.loads(lines[-1])
                times[c].append(r["t_sec"])
                rows[c] = r["n_rows"]
        t_low, t_high = min(times[n_low]), min(times[n_high])
        eff = (t_low / t_high) / 4.0
        result = {
            "metric": f"attrib_scaling_efficiency_{n_low}_to_{n_high}",
            "value": round(eff, 3),
            "unit": "ratio",
            "job": "attributions_docs_parquet_scan",
            f"t_local{n_low}_sec": t_low,
            f"t_local{n_high}_sec": t_high,
            f"rows_per_sec_local{n_low}": round(rows[n_low] / t_low, 1),
            f"rows_per_sec_local{n_high}": round(rows[n_high] / t_high, 1),
            "all_times": {str(k): v for k, v in times.items()},
            "runs": n_runs,
            "n_rows": rows[n_high],
            "n_docs": n_docs_synth,
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        try:
            cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH", "scaling_attrib.json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump(result, f)
        except OSError:
            pass
        print(json.dumps(result))
        return

    if "--scaling-acf" in sys.argv:
        # Third two-parallelism datapoint: the WINDOW-HEAVY shape — per-
        # series ordered windows (the acf lead-array plan: one Exchange +
        # per-series sort, NO join) over the SAME materialized events
        # corpus as --scaling-events (3M+ disjoint user series). Pins the
        # third canonical Exchange pattern of the engine alongside the
        # fused map-only pipeline (--scaling) and the funnel groupBy fold
        # (--scaling-events). Same protocol: fresh JVM per level,
        # interleaved min-of-N.
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_high = 4 * n_low
        n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        rep = int(os.environ.get("SPARK_GRAFT_EV_REPLICATE", "2000"))
        src = f"/tmp/bench_events_{os.path.basename(sf_dir.rstrip('/'))}_rep{rep}"
        if not os.path.isdir(src):
            from pyspark.sql import functions as F

            spark = get_spark(8)
            spark.sparkContext.setLogLevel("ERROR")
            ev0 = spark.read.parquet(f"{sf_dir}/events.parquet")
            reps_ev = spark.range(rep).select(F.col("id").alias("rep"))
            (
                ev0.repartition(64)
                .crossJoin(F.broadcast(reps_ev))
                .withColumn("user_id", F.col("user_id") + F.col("rep") * 1_000_000)
                .withColumn("event_id", F.col("event_id") + F.col("rep") * 100_000_000)
                .drop("rep")
                .write.mode("overwrite").parquet(src)
            )
            spark.stop()
        times: dict[int, list[float]] = {n_low: [], n_high: []}
        rows = {n_low: 0, n_high: 0}
        for _ in range(n_runs):
            for c in (n_low, n_high):
                out = subprocess.run(
                    [sys.executable, __file__, "--once", "--acf-scaling",
                     f"--cpus={c}", f"--src={src}"],
                    capture_output=True,
                    text=True,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    sys.stderr.write(out.stdout + out.stderr)
                    raise SystemExit(1)
                r = json.loads(lines[-1])
                times[c].append(r["t_sec"])
                rows[c] = r["n_events"]
        t_low, t_high = min(times[n_low]), min(times[n_high])
        eff = (t_low / t_high) / 4.0
        result = {
            "metric": f"acf_scaling_efficiency_{n_low}_to_{n_high}",
            "value": round(eff, 3),
            "unit": "ratio",
            "job": "acf_lag24_per_user_parquet_scan",
            f"t_local{n_low}_sec": t_low,
            f"t_local{n_high}_sec": t_high,
            f"events_per_sec_local{n_low}": round(rows[n_low] / t_low, 1),
            f"events_per_sec_local{n_high}": round(rows[n_high] / t_high, 1),
            "all_times": {str(k): v for k, v in times.items()},
            "runs": n_runs,
            "n_events": rows[n_high],
            "sf": sf_dir,
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        try:
            cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH", "scaling_acf.json")
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump(result, f)
        except OSError:
            pass
        print(json.dumps(result))
        return

    if "--acf-scaling" in sys.argv:
        # child for --scaling-acf: one timed per-user acf run on a parquet
        # src (lag 24 — the daily-cycle primitive — over ~3M user series)
        src = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--src=")][0]
        cpus = int([a.split("=", 1)[1] for a in sys.argv if a.startswith("--cpus=")][0])
        from sentometrics_spark.aggregate.timeseries import acf

        spark = get_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        ev = spark.read.parquet(src)
        n_events = ev.count()

        def run():
            return force(acf(ev, 24, series_keys=["user_id"], tiebreak="event_id"))

        force(acf(ev.limit(20000), 24, series_keys=["user_id"],
                  tiebreak="event_id"))
        best = float("inf")
        for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_INNER", "2"))):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        print(json.dumps({"cpus": cpus, "t_sec": round(best, 3),
                          "n_events": n_events}))
        spark.stop()
        return

    if "--attrib-scaling" in sys.argv:
        # child for --scaling-attrib: one timed attributions_docs run on a
        # synthesized-sentiment parquet src. The panel, kernels and coefs
        # are tiny fixed inputs; the timed work is the doc-sized join
        # family + the broadcast kernel fan-out + the final aggregation.
        import pandas as pd
        from pyspark.sql import functions as F

        from sentometrics_spark.aggregate.doc_agg import doc_weights
        from sentometrics_spark.aggregate.kernels import setup_time_weights
        from sentometrics_spark.config import TimeKernelSpec
        from sentometrics_spark.model.attribution import attributions_docs, coef_df

        src = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--src=")][0]
        cpus = int([a.split("=", 1)[1] for a in sys.argv if a.startswith("--cpus=")][0])
        spark = get_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        sent = spark.read.parquet(src)
        n_rows = sent.count()
        lag = 7
        filled = spark.range(365 * 4).select(
            F.timestamp_seconds(F.lit(1704067200) + (F.col("id") / 4).cast("long") * 86400).alias("bucket_ts"),
            F.when((F.col("id") % 4) < 2, "LEXA").otherwise("LEXB").alias("lexicon"),
            F.when((F.col("id") % 2) == 0, "f1").otherwise("f2").alias("feature"),
            F.cos(F.col("id") * 0.01).alias("value"),
        )
        kernels = setup_time_weights((TimeKernelSpec("almon", orders_alm=(1, 2)),), lag)
        coefs = pd.Series({
            f"{lx}--{ft}--{tw}": 0.1 * (i + 1)
            for i, (lx, ft, tw) in enumerate(
                (lx, ft, tw)
                for lx in ("LEXA", "LEXB") for ft in ("f1", "f2") for tw in kernels
            )
        })
        cdf = coef_df(spark, coefs)

        def run():
            # weights=None: derive realized weights inline (the scale path
            # when attribWeights$W is not pre-materialized) — the weight
            # window shares the scoring rows' shuffle instead of paying a
            # doc x doc SortMergeJoin (stored-W form measured 0.55-0.65
            # 2->8 on this probe; see PLANS.md)
            return force(attributions_docs(
                sent, None, filled, cdf, kernels, lag, "day",
                how="equal_weight"))

        # warm-up on a slice
        force(attributions_docs(sent.limit(20000), None, filled, cdf,
                                kernels, lag, "day", how="equal_weight"))
        best = float("inf")
        for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_INNER", "2"))):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        print(json.dumps({"cpus": cpus, "t_sec": round(best, 3), "n_rows": n_rows}))
        spark.stop()
        return

    if "--funnel-scaling" in sys.argv:
        # child for --scaling-events: one timed funnel run on a parquet src
        src = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--src=")][0]
        cpus = int([a.split("=", 1)[1] for a in sys.argv if a.startswith("--cpus=")][0])
        from sentometrics_spark.aggregate.timeseries import funnel_stages

        spark = get_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        ev = spark.read.parquet(src)
        n_events = ev.count()

        def run():
            return force(funnel_stages(
                ev, ["view", "click", "purchase"], within_seconds=7 * 86400.0))

        force(funnel_stages(ev.limit(20000), ["view", "click", "purchase"],
                            within_seconds=7 * 86400.0))
        best = float("inf")
        for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_INNER", "2"))):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        print(json.dumps({"cpus": cpus, "t_sec": round(best, 3),
                          "n_events": n_events}))
        spark.stop()
        return

    if "--fused-scaling" in sys.argv:
        # child process for --scaling: one timed fused run on a parquet src
        src = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--src=")][0]
        cpus = int([a.split("=", 1)[1] for a in sys.argv if a.startswith("--cpus=")][0])
        from sentometrics_spark.aggregate.tiers import rollup
        from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
        from sentometrics_spark.scoring.fused import score_to_bucket_partials

        spark = get_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        pages = spark.read.parquet(src)
        n_docs = pages.count()
        lex = Lexicons(lex=fixture_lexicons().lex)

        def run():
            return force(rollup(
                score_to_bucket_partials(pages, lex, "proportional", "proportional", by="hour"),
                "hour"))

        # warm-up on a slice: spawn workers + JIT before the timed run
        force(rollup(score_to_bucket_partials(
            pages.limit(4000), lex, "proportional", "proportional", by="hour"), "hour"))
        best = float("inf")
        for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_INNER", "2"))):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        print(json.dumps({"cpus": cpus, "t_sec": round(best, 3), "n_docs": n_docs}))
        spark.stop()
        return

    if "--once" in sys.argv:
        for a in sys.argv:
            if a.startswith("--cpus="):
                cpus = int(a.split("=")[1])

    print(json.dumps(run_benchmarks(cpus, sf_dir, q1_only="--q1-only" in sys.argv)))


if __name__ == "__main__":
    main()
