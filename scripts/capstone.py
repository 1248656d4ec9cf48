"""Single-node end-to-end capstone: N docs through the full production
path in one run, timing each stage.

  1. fused Arrow scoring -> hour-tier partials -> partitioned-parquet
     TierStore write (the only document-sized stage)
  2. day/week/month rollups from the hour tier's partial sums (no rescan)
  3. zero-fill + almon lag-24 rolling + Gorilla pack of the finalized series

Usage:
  python scripts/capstone.py [replicate] [cpus]   # default 20000 x sf0.1 = 100M docs

The corpus is materialized to /tmp/bench_pages_rep{replicate} once (reused
across runs); results append to stdout as one JSON line per stage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import get_spark, replicated_pages
    from sentometrics_spark.aggregate.kernels import setup_time_weights
    from sentometrics_spark.aggregate.tiers import TierStore, rollup
    from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
    from sentometrics_spark.config import TimeKernelSpec
    from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
    from sentometrics_spark.scoring.fused import score_to_bucket_partials
    from sentometrics_spark.storage.gorilla import compress_series_df
    from pyspark.sql import functions as F

    src = f"/tmp/bench_pages_{os.path.basename(sf_dir.rstrip('/'))}_rep{rep}"
    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(src):
        t0 = time.time()
        replicated_pages(spark, sf_dir, rep).write.mode("overwrite").parquet(src)
        print(json.dumps({"stage": "materialize", "wall_sec": round(time.time() - t0, 1)}))

    pages = spark.read.parquet(src)
    n_docs = pages.count()
    lex = Lexicons(lex=fixture_lexicons().lex)
    store_root = tempfile.mkdtemp(prefix="capstone_tiers_")
    store = TierStore(spark, store_root)

    # stage 1: the only stage that touches documents
    t0 = time.time()
    hour = rollup(
        score_to_bucket_partials(pages, lex, "proportional", "proportional", by="hour"), "hour"
    )
    store.write("hour", hour)
    t1 = time.time() - t0
    print(json.dumps({
        "stage": "fused_score_to_hour_tier", "wall_sec": round(t1, 1),
        "n_docs": n_docs, "docs_per_sec": round(n_docs / t1),
    }))

    # stage 2: pure partial-sum re-aggregation
    t0 = time.time()
    hour_t = store.read("hour")
    day = rollup(hour_t, "day")
    store.write("day", day)
    day_t = store.read("day")
    store.write("week", rollup(day_t, "week"))
    store.write("month", rollup(day_t, "month"))
    t2 = time.time() - t0
    print(json.dumps({"stage": "day_week_month_rollups", "wall_sec": round(t2, 1)}))

    # stage 3: fill + rolling kernel + codec on the bucket-level panel
    t0 = time.time()
    filled = measures_fill(
        store.read("hour").select("bucket_ts", "lexicon", "feature", "value"),
        by="hour", fill="zero",
    )
    kernels = setup_time_weights((TimeKernelSpec("almon", orders_alm=(1, 2)),), 24)
    rolled = aggregate_time(filled, kernels, 24, check_lag=False)
    packed = compress_series_df(
        rolled.select("bucket_ts", "lexicon", "feature", "timeweight", "value"),
        series_keys=["lexicon", "feature", "timeweight"],
    )
    stats = packed.select(
        F.count("*").alias("series"),
        F.sum("n_points").alias("points"),
        F.sum(F.length("blob")).alias("blob_bytes"),
    ).collect()[0]
    t3 = time.time() - t0
    print(json.dumps({
        "stage": "fill_almon24_gorilla", "wall_sec": round(t3, 1),
        "series": stats["series"], "points": stats["points"],
        "bytes_per_point": round(stats["blob_bytes"] / stats["points"], 2),
    }))
    print(json.dumps({
        "stage": "TOTAL", "wall_sec": round(t1 + t2 + t3, 1), "n_docs": n_docs,
        "docs_per_sec_end_to_end": round(n_docs / (t1 + t2 + t3)),
        "cpus": cpus,
    }))
    shutil.rmtree(store_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
