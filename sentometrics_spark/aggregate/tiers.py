"""Multi-tier continuous aggregates: hour -> day -> week -> month rollups
with retention (north rule; no reference equivalent — the reference
aggregates once per requested ``by``).

Exactness contract: every tier row carries the partial sums of
``doc_agg.aggregate_docs`` (see its module docstring), which merge by plain
addition across buckets, so a coarser tier is a pure re-aggregation of a
finer one and equals direct aggregation at the coarser bucket (bit-for-bit
up to float associativity):

  - doc-LOCAL schemes (equal_weight, proportional, inverseProportional):

        day.wsum = sum(hour.wsum),  day.wden = sum(hour.wden)
        day.value = day.wsum / day.wden

  - bucket-RELATIVE schemes (exponential, inverseExponential): the weight
    numerator wc_d - W depends on the bucket's total word count W, so the
    tier keeps (s_sum, wcs_sum, wc_in, n_docs_in) and W itself
    (bucket_wc); all five sum, including W' = sum W, and

        day.value = (wcs_sum - W'*s_sum) / (wc_in - W'*n_docs_in)

    with an exact integer-valued denominator.

``base_tier`` is ``aggregate_docs`` with its partials, and ``rollup`` picks
the partial set from the input's columns (``bucket_wc`` present =
bucket-relative) and finalizes with the same value expression, so
``build_all_tiers`` and ``refresh_continuous`` serve all five schemes.

Tier storage layout (TierStore): one partitioned parquet/Iceberg table per
tier, partitioned by bucket_date for partition-pruned reads and
partition-level retention expiry.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.doc_agg import (
    MEASURE_KEYS,
    aggregate_docs,
    finalize,
    partial_cols,
)

TIER_ORDER = ["hour", "day", "week", "month"]


def base_tier(
    sentiment: DataFrame,
    how: str = "proportional",
    do_ignore_zeros: bool = True,
    by: str = "hour",
) -> DataFrame:
    """Finest tier straight from doc-level sentiment, carrying the partials
    that make coarser tiers exact (see module docstring)."""
    return aggregate_docs(
        sentiment, by=by, how=how, do_ignore_zeros=do_ignore_zeros, keep_partials=True
    )


def rollup(lower_tier: DataFrame, to: str) -> DataFrame:
    """Compose the next tier from a finer tier's partial sums (either
    partial set). A pure re-aggregation — no rescan of documents."""
    if to not in TIER_ORDER:
        raise ValueError(f"unknown tier: {to}")
    pcols = partial_cols(lower_tier)
    agg = lower_tier.groupBy(
        F.date_trunc(to, F.col("bucket_ts")).alias("bucket_ts"), *MEASURE_KEYS
    ).agg(*[F.sum(c).alias(c) for c in pcols])
    return finalize(agg, pcols)


def build_all_tiers(
    sentiment: DataFrame,
    how: str = "proportional",
    do_ignore_zeros: bool = True,
) -> dict[str, DataFrame]:
    """Rollup lattice: hour from documents; day from hour; week and month
    BOTH from day (ISO weeks straddle month boundaries, so week and month
    are siblings, not a chain)."""
    tiers: dict[str, DataFrame] = {}
    tiers["hour"] = base_tier(sentiment, how, do_ignore_zeros, by="hour")
    tiers["day"] = rollup(tiers["hour"], "day")
    tiers["week"] = rollup(tiers["day"], "week")
    tiers["month"] = rollup(tiers["day"], "month")
    return tiers


def refresh_continuous(
    store: "TierStore",
    new_hour_partials: DataFrame,
    pre_hour: DataFrame | None = None,
) -> dict[str, int]:
    """Incrementally fold a batch of NEW hour-tier partial rows (from
    base_tier on newly ingested documents — a disjoint document set from
    what the store already holds) into the stored hour/day/week/month
    continuous aggregates, re-materializing ONLY the partitions the batch
    touches. Either partial set works (bucket_wc partials sum too, because
    the batch's documents are new).

    This is the TimescaleDB-style continuous-aggregate refresh re-expressed
    for Spark: the dirty set is derived from the batch's bucket dates (a
    bounded collect of DATES, never data rows); each tier reads just the
    dirty partitions of the finer tier (partition-pruned scan) and
    dynamic-partition-overwrites its own dirty partitions. Cost is
    O(touched buckets), independent of total corpus/history size.

    Returns {tier: number of dirty bucket_date partitions rewritten}.
    """
    import datetime as dt

    pcols = partial_cols(new_hour_partials)
    norm = lambda df: df.select("bucket_ts", *MEASURE_KEYS, *pcols)

    dirty_dates = sorted(
        r["d"]
        for r in new_hour_partials.select(
            F.to_date("bucket_ts").alias("d")
        ).distinct().collect()
    )
    if not dirty_dates:
        return {t: 0 for t in TIER_ORDER}

    # hour: merge the batch into the existing dirty-date rows (same-bucket
    # partials sum because the batch's documents are new) and re-finalize.
    # pre_hour overrides the live read with a FROZEN pre-batch snapshot
    # (streaming exactly-once path): the hour overwrite then becomes a pure
    # function of staged inputs, so a crashed apply can be retried without
    # double-counting (streaming.apply_refresh_exactly_once).
    if pre_hour is not None:
        merged = rollup(norm(pre_hour).unionByName(norm(new_hour_partials)), "hour")
    elif store.exists("hour"):
        existing = store.read_dates("hour", dirty_dates)
        merged = rollup(norm(existing).unionByName(norm(new_hour_partials)), "hour")
    else:
        merged = rollup(new_hour_partials, "hour")
    store.upsert_partitions("hour", merged)

    # day: rebuild exactly the dirty day buckets from the dirty hour
    # partitions (day partitions are keyed by the same dates)
    store.upsert_partitions("day", rollup(store.read_dates("hour", dirty_dates), "day"))

    # week / month: rebuild the straddled coarse buckets from ALL day rows
    # inside them (partition-pruned by the literal date lists)
    week_starts = sorted({d - dt.timedelta(days=d.weekday()) for d in dirty_dates})
    week_days = [ws + dt.timedelta(days=i) for ws in week_starts for i in range(7)]
    store.upsert_partitions("week", rollup(store.read_dates("day", week_days), "week"))

    month_starts = sorted({d.replace(day=1) for d in dirty_dates})
    month_days = []
    for ms in month_starts:
        nxt = (ms.replace(day=28) + dt.timedelta(days=4)).replace(day=1)
        month_days.extend(
            ms + dt.timedelta(days=i) for i in range((nxt - ms).days)
        )
    store.upsert_partitions("month", rollup(store.read_dates("day", month_days), "month"))

    return {
        "hour": len(dirty_dates),
        "day": len(dirty_dates),
        "week": len(week_starts),
        "month": len(month_starts),
    }


@dataclass(frozen=True)
class RetentionPolicy:
    """Per-tier retention horizon, in that tier's buckets. None = keep all.
    Applied as partition-level deletes (bucket_date partitioning)."""

    hour: int | None = 7 * 24
    day: int | None = 365
    week: int | None = None
    month: int | None = None

    def horizon(self, tier: str) -> int | None:
        return getattr(self, tier)


class TierStore:
    """Partitioned parquet store for tier tables (stand-in for Iceberg in
    this sandbox: same layout and partition-level retention semantics; on a
    real cluster the writes become `MERGE INTO` / partition-expiry on an
    Iceberg catalog table)."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt

    def path(self, tier: str) -> str:
        return f"{self.root}/tier={tier}"

    def write(self, tier: str, df: DataFrame, mode: str = "overwrite") -> None:
        (
            df.withColumn("bucket_date", F.to_date("bucket_ts"))
            .repartition("bucket_date")
            .write.format(self.fmt)
            .mode(mode)
            .partitionBy("bucket_date")
            .save(self.path(tier))
        )

    def read(self, tier: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self.path(tier)).drop("bucket_date")

    def exists(self, tier: str) -> bool:
        import os

        return os.path.isdir(self.path(tier))

    def read_dates(self, tier: str, dates) -> DataFrame:
        """Partition-pruned read of the given bucket_date partitions only
        (the filter hits the partition column BEFORE it is dropped, so the
        scan lists just those directories)."""
        return (
            self.spark.read.format(self.fmt)
            .load(self.path(tier))
            .filter(F.col("bucket_date").isin([str(d) for d in dates]))
            .drop("bucket_date")
        )

    def upsert_partitions(self, tier: str, df: DataFrame) -> None:
        """Replace ONLY the bucket_date partitions present in ``df``
        (dynamic partition overwrite) — the parquet stand-in for Iceberg's
        overwritePartitions / MERGE INTO; untouched partitions keep their
        files."""
        if not self.exists(tier):
            self.write(tier, df)
            return
        (
            df.withColumn("bucket_date", F.to_date("bucket_ts"))
            .repartition("bucket_date")
            .write.format(self.fmt)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_date")
            .save(self.path(tier))
        )

    def apply_retention(self, tier: str, policy: RetentionPolicy) -> int:
        """Drop buckets older than (max_bucket - horizon). Returns number of
        rows retained. Implemented as a filtered rewrite here; on Iceberg
        this is a metadata-only partition drop."""
        horizon = policy.horizon(tier)
        if horizon is None:
            return -1
        df = self.read(tier)
        step = {"hour": "hours", "day": "days", "week": "weeks", "month": "months"}[tier]
        mx = df.agg(F.max("bucket_ts").alias("mx"))
        kwargs = {"hours": 0, "days": 0, "weeks": 0, "months": 0}
        kwargs[step] = horizon
        cutoff = F.expr(
            f"mx - make_interval(0, {kwargs['months']}, {kwargs['weeks']}, "
            f"{kwargs['days']}, {kwargs['hours']}, 0, 0)"
        )
        kept = df.crossJoin(F.broadcast(mx.select(cutoff.alias("cutoff")))).filter(
            F.col("bucket_ts") > F.col("cutoff")
        ).drop("cutoff")
        # write to a sibling temp dir, then swap: kept is LAZY over the
        # path being replaced, and cache() is only best-effort (an evicted
        # partition would recompute from a half-deleted source mid-write).
        # On Iceberg this whole method is a metadata-only partition drop.
        import shutil
        import uuid

        tmp = f"{self.path(tier)}__retention_{uuid.uuid4().hex[:8]}"
        (
            kept.withColumn("bucket_date", F.to_date("bucket_ts"))
            .repartition("bucket_date")
            .write.format(self.fmt)
            .mode("overwrite")
            .partitionBy("bucket_date")
            .save(tmp)
        )
        n = self.spark.read.format(self.fmt).load(tmp).count()
        shutil.rmtree(self.path(tier))
        import os

        os.rename(tmp, self.path(tier))
        return n
