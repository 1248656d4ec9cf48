"""Cluster entry point for spark-submit (north rule).

    spark-submit --py-files dist/sentometrics_spark.zip scripts/submit_job.py \
        --input <pages table/path> --output <tier root> \
        [--format iceberg|parquet] [--how-within proportional] \
        [--how-docs proportional] [--resume-root <ckpt root>]

Reads the Common-Crawl-style pages table, scores it with the Arrow-UDF
engine, builds the hour->day->week->month tier tables (tiers.build_all_tiers,
exact for all five doc weighting schemes), writes them partitioned by
bucket_date, and records the per-partition checkpoint manifest so a rerun
resumes from where it stopped.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--how-within", default="proportional")
    ap.add_argument("--how-docs", default="proportional")
    ap.add_argument("--resume-root", default=None)
    ap.add_argument("--master", default=None, help="only for local testing; spark-submit sets this")
    ap.add_argument("--driver-memory", default=None, help="only for local testing")
    args = ap.parse_args()

    from pyspark import StorageLevel

    from sentometrics_spark.aggregate.tiers import TierStore, build_all_tiers
    from sentometrics_spark.corpus import validate_corpus
    from sentometrics_spark.lexicons import fixture_lexicons
    from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
    from sentometrics_spark.session import build_session

    spark = build_session(
        master=args.master,
        app_name="sentometrics-tiers",
        driver_memory=args.driver_memory,
    )
    t0 = time.time()

    if args.format == "iceberg":
        pages = spark.read.format("iceberg").load(args.input)
    else:
        pages = spark.read.parquet(args.input)
    pages = validate_corpus(pages)

    sent = compute_sentiment_udf(pages, fixture_lexicons(), args.how_within, mode="unigram")

    if args.resume_root:
        from sentometrics_spark.storage.checkpoint import CheckpointedRun

        run = CheckpointedRun(spark, args.resume_root)
        metrics = run.run(
            pages,
            lambda df: compute_sentiment_udf(df, fixture_lexicons(), args.how_within, mode="unigram"),
        )
        sent = run.results()
    else:
        metrics = {}

    tiers = build_all_tiers(sent, args.how_docs)
    # hour and day feed the coarser tiers: keep these panel-sized tables so
    # each write re-aggregates them instead of rescoring the documents
    tiers["hour"].persist(StorageLevel.MEMORY_AND_DISK)
    tiers["day"].persist(StorageLevel.MEMORY_AND_DISK)
    store = TierStore(spark, args.output, fmt=args.format if args.format == "parquet" else "parquet")
    for name, tier in tiers.items():
        store.write(name, tier)

    metrics["wall_sec"] = round(time.time() - t0, 1)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
