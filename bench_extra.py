"""Stage-isolation probes for the curation leaves of bench.py.

NOT the frozen driver bench (bench.py is the measured contract) — this
file decomposes the expensive curation queries into their stages with the
noop sink and labelled jobs. Run:

    python bench_extra.py <probe> [<probe> ...]

Probes: q18, q13, q11, q10. Each prints one JSON line.
``python bench_extra.py --scaling-spans`` runs the span-dedup scaling probe.

Per-layer figures for the scoring pipeline (scoring, doc_agg, time_agg,
attribution) come from ``python3 perfbench/run.py --workload panel_batch
--trace 1`` instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

from bench import REPLICATE, get_spark, replicated_pages


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, times: dict, runs: int = 2):
    best = float("inf")
    for _ in range(runs):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
    times[name] = round(best, 3)
    return best


def realistic_span_corpus(spark, sf_dir: str, rep: int):
    """Realistic-duplication span-dedup corpus (VERDICT r5 item 2): the
    sf docs replicated rep x, but only ~10% of source docs stay VERBATIM
    across replicas (the boilerplate fraction); every other replica gets
    a per-replica token suffix on every word, so its n-grams are unique
    corpus-wide. Flagged-gram volume is then ~10% of positions — the
    crawl-boilerplate regime — instead of the suite corpus's 100%
    worst case (40x replication makes EVERY gram repeated)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    return (
        docs.repartition(64)
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            F.when(
                F.crc32(F.col("doc_id").cast("string")) % 10 == 0, F.col("text")
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.concat(t, F.lit("~"), F.col("rep").cast("string")),
                    ),
                )
            )
            .alias("text"),
        )
    )


def spans_scaling(sf_dir: str) -> None:
    """Two-parallelism scaling probe for the span-dedup Exchange shape
    (gram-hash window count + per-doc merge): the SAME protocol as
    bench.py --scaling — corpus materialized to parquet once, fresh JVM
    per level, interleaved min-of-N, efficiency = (t_low/t_high)/4."""
    n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    n_high = 4 * n_low
    n_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
    rep = int(os.environ.get("SPARK_GRAFT_SPAN_REPLICATE", "40"))
    import subprocess

    src = f"/tmp/bench_spans_{os.path.basename(sf_dir.rstrip('/'))}_rep{rep}"
    if not os.path.isdir(src):
        spark = get_spark(8)
        spark.sparkContext.setLogLevel("ERROR")
        realistic_span_corpus(spark, sf_dir, rep).write.mode("overwrite").parquet(src)
        spark.stop()
    times: dict[int, list[float]] = {n_low: [], n_high: []}
    rows = {n_low: 0, n_high: 0}
    for _ in range(n_runs):
        for c in (n_low, n_high):
            out = subprocess.run(
                [sys.executable, __file__, "--spans-child",
                 f"--cpus={c}", f"--src={src}"],
                capture_output=True, text=True,
            )
            lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not lines:
                sys.stderr.write(out.stdout + out.stderr)
                raise SystemExit(1)
            r = json.loads(lines[-1])
            times[c].append(r["t_sec"])
            rows[c] = r["n_docs"]
    t_low, t_high = min(times[n_low]), min(times[n_high])
    eff = (t_low / t_high) / 4.0
    result = {
        "metric": f"spans_scaling_efficiency_{n_low}_to_{n_high}",
        "value": round(eff, 3),
        "unit": "ratio",
        "job": "repeated_spans_n8_parquet_scan_realistic_dup",
        f"t_local{n_low}_sec": t_low,
        f"t_local{n_high}_sec": t_high,
        f"docs_per_sec_local{n_low}": round(rows[n_low] / t_low, 1),
        f"docs_per_sec_local{n_high}": round(rows[n_high] / t_high, 1),
        "all_times": {str(k): v for k, v in times.items()},
        "runs": n_runs,
        "n_docs": rows[n_high],
        "replicate": rep,
        "verbatim_fraction": "~10% of source docs verbatim across replicas",
        "sf": sf_dir,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling_spans.json", "w") as f:
        json.dump(result, f)
    print(json.dumps(result))


def spans_child() -> None:
    src = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--src=")][0]
    cpus = int([a.split("=", 1)[1] for a in sys.argv if a.startswith("--cpus=")][0])
    from sentometrics_spark.textops.dedup import repeated_spans

    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(src)
    n_docs = docs.count()
    noop(repeated_spans(docs.limit(5000), n=8, min_repeats=2))  # warm-up
    best = float("inf")
    for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_INNER", "2"))):
        t0 = time.time()
        noop(repeated_spans(docs, n=8, min_repeats=2))
        best = min(best, time.time() - t0)
    print(json.dumps({"cpus": cpus, "t_sec": round(best, 3), "n_docs": n_docs}))
    spark.stop()


def main():
    from pyspark.sql import functions as F

    probes = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--scaling-spans" in sys.argv:
        spans_scaling(sf_env)
        return
    if "--spans-child" in sys.argv:
        spans_child()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("BX_RUNS", "2"))
    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    pages = replicated_pages(spark, sf_dir, REPLICATE).cache()
    n_docs = pages.count()
    times: dict[str, float] = {"n_docs": n_docs}

    if "q18" in probes:
        from sentometrics_spark.textops.dedup import _gram_positions, repeated_spans

        d = pages.select(F.col("url").alias("doc_id"), "text")
        pos = _gram_positions(d, "doc_id", "text", 8, "xxhash64")
        timed(spark, "q18_a_gram_positions", lambda: noop(pos), times, runs)
        rep = pos.groupBy("g").agg(F.count("*").alias("c")).filter(F.col("c") >= 2).select("g")
        timed(spark, "q18_b_gram_count", lambda: noop(rep), times, runs)
        flagged = pos.join(rep, "g").select("doc_id", "pos")
        timed(spark, "q18_c_flag_join", lambda: noop(flagged), times, runs)
        full = repeated_spans(d, n=8, min_repeats=2)
        timed(spark, "q18_full", lambda: noop(full), times, runs)

    if "q13" in probes:
        from sentometrics_spark.textops.dedup import simhash, simhash_near_pairs

        d = pages.select(F.col("url").alias("doc_id"), "text")
        sh = simhash(d, "doc_id")
        timed(spark, "q13_a_simhash", lambda: noop(sh), times, runs)
        pairs = simhash_near_pairs(d, max_bucket_size=32)
        timed(spark, "q13_full", lambda: noop(pairs), times, runs)

    if "q10" in probes:
        from sentometrics_spark.textops.dedup import minhash_lsh_buckets, _minhash_banded_arrow

        d = pages.select(F.col("url").alias("doc_id"), "text")
        banded = _minhash_banded_arrow(d, "doc_id", 3, 32, 8)
        timed(spark, "q10_a_banded", lambda: noop(banded), times, runs)
        full = minhash_lsh_buckets(d)
        timed(spark, "q10_full", lambda: noop(full), times, runs)

    if "q11" in probes:
        from sentometrics_spark.textops.textstats import fit_unigram_lm, lm_cross_entropy

        d = pages.select(F.col("url").alias("doc_id"), "text")
        timed(spark, "q11_a_fit", lambda: fit_unigram_lm(d), times, runs)
        lm = fit_unigram_lm(d)
        timed(spark, "q11_b_score", lambda: noop(
            lm_cross_entropy(d, lm=lm)), times, runs)

    print(json.dumps(times))
    spark.stop()


if __name__ == "__main__":
    main()
