"""Structured Streaming ingestion: micro-batch scoring of incoming pages
into the tier continuous aggregates.

The reference is batch-only; its incremental hook is ``measures_update``
(anti-join new ids, /root/reference/R/sentomeasures_measures_xyz.R:158-176).
Our streaming design keeps the reference's DETERMINISTIC-RECOMPUTE
semantics for late data instead of watermark-dropping:

  - every micro-batch scores its documents (same Arrow UDF as batch) and
    builds base_tier PARTIAL rows for the buckets it touches — either
    appended to a partials table (stream_events_tier with a score +
    base_tier ``tier_fn``) or folded into a TierStore
    (stream_refresh_tiers);
  - partials merge by addition for every doc weighting scheme, so the
    finalized hour tier is ``tiers.rollup(spark.read.parquet(path),
    "hour")`` — a late document just adds one more partial row, and the
    bucket is exact again at next read. No state store required,
    arbitrarily late data folds in, and a compaction pass
    (compact_partials) keeps the table small;
  - coarser tiers keep reading from the hour tier exactly as in batch.

This mirrors the batch tier engine bit-for-bit: the partials table
finalized equals base_tier() on the union of all micro-batch inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.tiers import base_tier, rollup
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf


def stream_refresh_tiers(
    pages_stream: DataFrame,
    lexicons: Lexicons,
    store,
    how_within: str = "proportional",
    how_docs: str = "proportional",
    do_ignore_zeros: bool = True,
    checkpoint_path: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming maintenance of ALL retention tiers: each micro-batch is
    scored (same Arrow UDF as batch), folded into hour-tier partials, and
    pushed through tiers.refresh_continuous — so hour/day/week/month stay
    materialized and exact after every trigger, rewriting only the
    partitions the batch touched. Late documents land in whatever bucket
    their warc_ts belongs to and that bucket is re-finalized exactly
    (deterministic-recompute semantics, no watermark drop, no state store).

    Exact ACROSS RESTARTS too: foreachBatch is at-least-once, and the tier
    fold is additive, so a naive replay would double-count the replayed
    batch and a crash between the hour upsert and the coarser-tier upserts
    would leave tiers inconsistent. apply_refresh_exactly_once makes the
    batch apply idempotent (per-batch stage + applied-batch ledger keyed by
    batch_id), turning at-least-once delivery into exactly-once tier state.

    ``store`` is a tiers.TierStore; on Iceberg the per-batch upserts become
    overwritePartitions commits, giving snapshot-isolated readers.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sent = compute_sentiment_udf(batch_df, lexicons, how_within, mode="unigram")
        partials = base_tier(sent, how=how_docs, do_ignore_zeros=do_ignore_zeros, by="hour")
        apply_refresh_exactly_once(store, partials, batch_id)

    writer = pages_stream.writeStream.foreachBatch(process_batch)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_refresh_exactly_once(
    store,
    partials: DataFrame,
    batch_id: int,
) -> bool:
    """Idempotent tier refresh for one micro-batch (exactly-once on top of
    foreachBatch's at-least-once replay).

    Protocol, all keyed by ``batch_id`` under the store root:
      1. ledger check — ``_stream_applied/batch_<id>`` exists => this batch
         already folded in fully; a restart replay is a no-op;
      2. stage — write the batch's hour partials (``new``) AND a frozen
         snapshot of the store's pre-batch dirty-date hour rows (``pre``)
         to ``_stream_stage/batch_<id>``, sealed by a ``_STAGED`` marker.
         Until the marker exists the store has not been touched, so a crash
         mid-staging just restages from scratch;
      3. apply — refresh_continuous with ``pre_hour=pre``: every tier
         partition overwrite is a pure function of the FROZEN stage
         (pre ∪ new), so a crash anywhere inside the apply (including
         between the hour upsert and the day/week/month upserts) is
         repaired by simply re-running the apply — same inputs, same
         partition contents, no double-count;
      4. commit — write the ledger marker, then drop the stage.

    On Iceberg, steps 3-4 collapse into transactional overwritePartitions
    commits carrying the batch id as snapshot metadata; this is the
    filesystem stand-in with the same externally observable semantics.
    Returns True if the batch was applied, False if skipped as a replay."""
    import os
    import shutil

    from sentometrics_spark.aggregate.tiers import refresh_continuous

    spark = store.spark
    ledger_dir = os.path.join(store.root, "_stream_applied")
    os.makedirs(ledger_dir, exist_ok=True)
    marker = os.path.join(ledger_dir, f"batch_{batch_id}")
    stage = os.path.join(store.root, "_stream_stage", f"batch_{batch_id}")
    if os.path.exists(marker):
        shutil.rmtree(stage, ignore_errors=True)  # crash between 4's steps
        return False

    new_path = os.path.join(stage, "new")
    pre_path = os.path.join(stage, "pre")
    staged_flag = os.path.join(stage, "_STAGED")
    if not os.path.exists(staged_flag):
        partials.write.mode("overwrite").parquet(new_path)
        new = spark.read.parquet(new_path)
        dirty = [
            r["d"]
            for r in new.select(F.to_date("bucket_ts").alias("d")).distinct().collect()
        ]
        pre = store.read_dates("hour", dirty) if store.exists("hour") else new.limit(0)
        pre.write.mode("overwrite").parquet(pre_path)
        with open(staged_flag, "w"):
            pass

    new = spark.read.parquet(new_path)
    pre = spark.read.parquet(pre_path)
    refresh_continuous(store, new, pre_hour=pre)
    with open(marker, "w"):
        pass
    shutil.rmtree(stage, ignore_errors=True)
    return True


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
# open sessions per user as parallel arrays (a user can hold several open
# sessions at once under out-of-order arrival within the watermark delay)
SESSION_STATE_SCHEMA = (
    "starts array<long>, lasts array<long>, ns array<long>, svs array<double>"
)


def stream_sessionize(
    events_stream: DataFrame,
    gap_min: int = 30,
    watermark_delay: str = "0 seconds",
    max_events_per_user_batch: int | None = None,
):
    """Stateful gap-based sessionization over a STREAM: the custom-stateful
    counterpart of the batch lag+cumsum plan (entry_queries.q_events_sessionize).

    applyInPandasWithState per user_id: each micro-batch merges its events
    into the user's open sessions (absorbing an event into any session
    within gap_min of it, then coalescing sessions the new events bridged);
    a session is EMITTED only when the event-time watermark has passed
    session_end + gap — i.e. no event that could still arrive (within the
    watermark delay) can extend it. Late data inside the delay folds into
    the open session exactly; state is O(open sessions per user), bounded
    by the gap and the delay, never O(events).

    ``max_events_per_user_batch`` is the defensive valve on the per-(user,
    micro-batch) group: one pathological bot key emitting unbounded events
    would otherwise concentrate a whole micro-batch's rows in one task's
    pandas frame. Above the cap, only the EARLIEST cap events of the batch
    are folded (earliest-first keeps session starts exact; a bot hot
    enough to hit the cap has one ever-extending session whose tail
    metrics are approximate anyway) and the drop is logged to the executor
    log with the user key and count — the drop-and-log contract. The cap
    defaults to ``None`` (OFF), for parity with ``funnel_stages``' opt-in
    defensive cap (ADVICE r5): exact results by default, opt in on
    untrusted streams.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if max_events_per_user_batch is not None and max_events_per_user_batch < 1:
        raise ValueError("max_events_per_user_batch must be >= 1 (or None)")
    # state keeps event-time in MICROSECONDS (events carry us precision;
    # the watermark API is ms, converted at the comparison boundary)
    gap_us = gap_min * 60_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        user = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            starts, lasts, ns, svs = state.get
            sessions = [list(s) for s in zip(starts, lasts, ns, svs)]
        else:
            sessions = []

        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs), ignore_index=True)
            if len(batch):
                ts_us = (batch["ts"].astype("datetime64[ns]").astype("int64") // 1_000).to_numpy()
                vals = batch["value"].to_numpy()
                order = ts_us.argsort(kind="stable")
                if (
                    max_events_per_user_batch is not None
                    and len(order) > max_events_per_user_batch
                ):
                    import sys as _sys

                    print(
                        f"stream_sessionize: user {user!r} sent {len(order)} "
                        f"events in one micro-batch; folding the earliest "
                        f"{max_events_per_user_batch} and dropping "
                        f"{len(order) - max_events_per_user_batch}",
                        file=_sys.stderr,
                    )
                    order = order[:max_events_per_user_batch]
                for i in order:
                    t, v = int(ts_us[i]), float(vals[i])
                    hit = None
                    for s in sessions:
                        if s[0] - gap_us <= t <= s[1] + gap_us:
                            hit = s
                            break
                    if hit is None:
                        sessions.append([t, t, 1, v])
                    else:
                        hit[0] = min(hit[0], t)
                        hit[1] = max(hit[1], t)
                        hit[2] += 1
                        hit[3] += v
                # coalesce sessions the new events bridged
                sessions.sort(key=lambda s: s[0])
                merged = []
                for s in sessions:
                    if merged and s[0] <= merged[-1][1] + gap_us:
                        m = merged[-1]
                        m[1] = max(m[1], s[1])
                        m[2] += s[2]
                        m[3] += s[3]
                    else:
                        merged.append(s)
                sessions = merged

        closed = [s for s in sessions if s[1] + gap_us <= wm_us]
        open_ = [s for s in sessions if s[1] + gap_us > wm_us]
        if open_:
            state.update((
                [s[0] for s in open_],
                [s[1] for s in open_],
                [s[2] for s in open_],
                [s[3] for s in open_],
            ))
            # wake up when the earliest open session becomes closable
            next_close_ms = -(-(min(s[1] for s in open_) + gap_us) // 1000)  # ceil us->ms
            state.setTimeoutTimestamp(max(next_close_ms, state.getCurrentWatermarkMs() + 1))
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": pd.to_datetime([s[0] for s in closed], unit="us"),
                    "session_end": pd.to_datetime([s[1] for s in closed], unit="us"),
                    "n_events": [s[2] for s in closed],
                    "sum_value": [s[3] for s in closed],
                }
            )

    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def compact_partials(spark: SparkSession, partials_path: str) -> None:
    """Compaction: rewrite the partials table as one row per bucket (keeps
    the append-only table bounded; on Iceberg this is a rewrite-data-files
    action).

    The HIGHEST batch_id partition is left untouched (ADVICE r3): replay
    idempotence in stream_events_tier relies on a replayed batch
    dynamically overwriting its OWN batch_id partition. If the newest
    batch's checkpoint commit is still pending when compaction runs and
    its rows were folded into the batch_id=-1 partition, a post-restart
    replay would re-write partition batch_id=N beside the folded copy and
    double-count that batch. Every batch below the maximum is either
    committed or will be replayed into its still-existing partition, so
    folding those is safe only once the max batch shields the frontier —
    hence: compact strictly-older partitions, carry the newest through
    verbatim."""
    import os
    import shutil

    p = spark.read.parquet(partials_path)
    max_batch = p.agg(F.max("batch_id")).collect()[0][0]
    if max_batch is None:
        return
    old = rollup(p.filter(F.col("batch_id") != max_batch), "hour").withColumn(
        "batch_id", F.lit(-1)
    )
    newest = p.filter(F.col("batch_id") == max_batch).select(*old.columns)
    compacted = old.unionByName(newest)
    tmp = partials_path.rstrip("/") + "__compact"
    # keep the batch_id=... partition layout the streaming writer uses, so
    # post-compaction appends land beside it without mixing layouts
    compacted.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    # local-fs swap; on Iceberg this is an atomic rewrite-data-files commit
    shutil.rmtree(partials_path)
    os.rename(tmp, partials_path)


def stream_events_tier(
    events_stream: DataFrame,
    tier_fn,
    partials_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Streaming maintenance for the GENERIC event tiers (histogram
    counts, HLL distinct sketches, KLL percentile sketches, OHLC partials
    — anything whose per-bucket state merges associatively): each
    micro-batch runs ``tier_fn`` (a batch tier builder, e.g.
    ``lambda df: bucket_histogram(df, 0, 500, 20, by="hour")``, or for the
    sentiment hour tier ``lambda df: base_tier(compute_sentiment_udf(df,
    lexicons, "proportional"), "proportional", by="hour")``) over the batch
    only, and appends the result as that batch's partial.

    Partials are partitioned by batch_id with dynamic overwrite, so an
    at-least-once foreachBatch replay rewrites its OWN partition instead of
    appending duplicates. Finalization merges partials per bucket
    (finalize_histogram_tier below; for sketch tiers the stream-grain
    timeseries rollup, e.g. ``hll_distinct_rollup(spark.read.parquet(path),
    to="day")``) — late events land in whatever bucket their timestamp
    belongs to and simply contribute another mergeable partial; no
    watermark, nothing dropped.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            tier_fn(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(partials_path)
        )

    writer = (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize_histogram_tier(
    spark: SparkSession, partials_path: str, series_keys: list[str] | None = None
) -> DataFrame:
    """Merge streamed histogram partials: counts ADD exactly, so the
    finalized tier is bit-identical to the batch histogram over the same
    events (tested stream==batch)."""
    keys = list(series_keys or [])
    p = spark.read.parquet(partials_path)
    return (
        p.groupBy(*keys, "bucket_ts", "bin")
        .agg(
            F.sum("n").alias("n"),
            F.first("bin_lo").alias("bin_lo"),
            F.first("bin_hi").alias("bin_hi"),
        )
    )
