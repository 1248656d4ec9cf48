"""The perfbench workloads: what each one runs, times, traces and checks.

Every workload calls only public functions of ``sentometrics_spark`` and
forces every timed action through a real sink (``noop`` or parquet). A
timed action is one root span; its duration is the sample. After each root
span closes, ``guard`` reads the executed plans from the SQL status store
and fails the action unless the expected operator ran (untimed).

In a traced iteration (``Tracer.detail``) each layer's output is
materialized (persist + ``noop``) inside its own span before the next layer
starts, and the public callables that other public functions call are
wrapped from here (``TierRefresh.wrap``), so every span covers one
layer. Untraced iterations run the same calls straight through.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
from functools import reduce
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from sentometrics_spark.aggregate import tiers
from sentometrics_spark.aggregate.doc_agg import aggregate_docs, doc_weights
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.aggregate.tiers import (
    TIER_ORDER,
    RetentionPolicy,
    TierStore,
    base_tier,
    build_all_tiers,
)
from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
from sentometrics_spark.config import TimeKernelSpec
from sentometrics_spark.corpus import FEATURE_SQL, build_pages
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.model.attribution import attributions_docs, coef_df
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
from sentometrics_spark.storage.gorilla import compress_series_df
from sentometrics_spark.streaming import apply_refresh_exactly_once
from sentometrics_spark.textops.dedup import repeated_spans, simhash_near_pairs

import checks
import gen
from spans import span_id

PYTHON_TIME = "time to run Python workers"
ARROW_IN = "data sent to Python workers"
ARROW_OUT = "data returned from Python workers"

# every per-layer metric, with its unit; a workload reports 0 for a layer
# it does not run
LAYER_METRICS = {
    "corpus.scan_s": "s", "corpus.rows": "count",
    "scoring.self_s": "s", "scoring.python_worker_s": "s",
    "scoring.arrow_in_mb": "MB", "scoring.arrow_out_mb": "MB", "scoring.docs": "count",
    "doc_agg.self_s": "s", "doc_agg.shuffle_mb": "MB", "doc_agg.shuffle_records": "count",
    "time_agg.fill_s": "s", "time_agg.roll_s": "s",
    "time_agg.spine_rows": "count", "time_agg.observed_rows": "count",
    "gorilla.encode_s": "s", "gorilla.bytes_per_point": "B/point",
    "attribution.self_s": "s", "attribution.shuffle_mb": "MB",
    "attribution.spill_mb": "MB", "attribution.sort_merge_joins": "count",
    "tiers.read_s": "s",
    **{f"tiers.{t}.upsert_s": "s" for t in TIER_ORDER},
    "tiers.partitions_rewritten": "count", "tiers.bytes_written_mb": "MB",
    "tiers.write_amp": "ratio", "tiers.retention_s": "s",
    "streaming.stage_s": "s", "streaming.commit_s": "s",
    "dedup.spans_s": "s", "dedup.simhash_s": "s", "dedup.shuffle_mb": "MB",
    "dedup.shuffle_records": "count", "dedup.task_skew": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.gc_s": "s", "spark.scheduler_delay_s": "s",
    "trace.overhead_s": "s",
}


def lexicons() -> Lexicons:
    # the generator's languages only, without valence: the unigram engine
    # the DuckDB oracles mirror
    return Lexicons(lex=fixture_lexicons(gen.LANGS).lex)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """One workload. ``run.py`` drives it: ``generate`` (untimed), then
    ``setup`` several times (timed), in traced runs ``warm`` (untimed), then
    ``step`` until the time is up and at least MIN_STEPS ran, or until it
    returns False, then ``check`` (untimed)."""

    name = ""
    main = ""  # root span name of the unit of work
    MIN_STEPS = 1  # units of work run even when they outlast --seconds

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.lex = lexicons()
        self.spark = self.T = self.status = None
        self.execs: list[dict] = []
        self.guard_failures: list[str] = []
        self._cached: list = []

    def bind(self, spark, tracer, status) -> None:
        self.spark, self.T, self.status = spark, tracer, status

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- helpers for the workloads ------------------------------------------

    def layer(self, name: str, build):
        """Untraced: the lazy DataFrame ``build()`` returns. Traced: build it
        and materialize it inside a span named after its layer."""
        if not self.T.detail:
            return build()
        with self.T.span(name):
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            df.write.format("noop").mode("overwrite").save()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def guard(self, root: int, expect: dict[str, tuple[str, str | None]]) -> None:
        """Read the plans the root span ran and record a failure unless,
        for each named child span (or the root itself, key ``""``), a node
        ``op`` ran with a non-zero ``metric`` (when one is given)."""
        self.execs.extend(self.status.new_executions())
        ids = {s["id"] for s in self.T.subtree(root)}
        for child, (op, metric) in expect.items():
            scope = ids
            if child:
                kids = [s["id"] for s in self.T.subtree(root) if s["name"] == child]
                scope = {s["id"] for k in kids for s in self.T.subtree(k)}
            ok = any(
                n["name"] == op and (metric is None or n["metrics"].get(metric, 0) > 0)
                for e in self.execs if span_id(e["description"]) in scope
                for n in e["nodes"]
            )
            if not ok:
                self.guard_failures.append(
                    f"{self.T.spans[root]['name']} [{root}]: no {op}"
                    + (f" with {metric} > 0" if metric else "") + (f" in {child}" if child else "")
                )

    def warm(self) -> None:
        """Untimed warm-up of a traced run, so its traced and untraced
        units both run compiled code."""

    def wrap(self) -> None:
        """Install span wrappers around library callables (traced runs)."""

    def after_loop(self) -> None:
        """Record end-of-loop state before the checks change it."""

    def roots(self, name: str, traced: bool) -> list[int]:
        return [
            s["id"] for s in self.T.spans
            if s["parent"] is None and s["name"] == name and s.get("traced", False) == traced
        ]

    # -- per-layer counters from the status stores ---------------------------

    def collect_counters(self) -> None:
        self.execs.extend(self.status.new_executions())
        self.stage_rows = self.status.stages()
        self.job_rows = self.status.jobs()

    def _scope(self, root: int, names: tuple[str, ...] | None) -> set[int]:
        spans = self.T.subtree(root)
        if names is None:
            return {s["id"] for s in spans}
        return {
            d["id"] for s in spans if s["name"] in names for d in self.T.subtree(s["id"])
        }

    def stages_in(self, root: int, names=None) -> list[dict]:
        scope = self._scope(root, names)
        return [s for s in self.stage_rows if span_id(s["description"]) in scope]

    def node_metric(self, root: int, names, op: str, metric: str | None = None) -> float:
        """Sum of ``metric`` over plan nodes ``op`` in the scope's executions
        (the number of such nodes when ``metric`` is None)."""
        scope = self._scope(root, names)
        total = 0.0
        for e in self.execs:
            if span_id(e["description"]) in scope:
                for n in e["nodes"]:
                    if n["name"] == op:
                        total += 1 if metric is None else n["metrics"].get(metric, 0.0)
        return total

    def self_s(self, root: int, name: str) -> float:
        return sum(
            self.T.self_time(s["id"]) for s in self.T.subtree(root) if s["name"] == name
        )

    def spark_counters(self, root: int) -> dict[str, float]:
        scope = self._scope(root, None)
        stages = [s for s in self.stage_rows if span_id(s["description"]) in scope]
        delay = sum(
            t["scheduler_delay_s"]
            for s in stages for t in self.status.tasks(s["stage"], s["attempt"])
        )
        return {
            "spark.jobs": sum(span_id(j["description"]) in scope for j in self.job_rows),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
            "spark.gc_s": sum(s["gc_s"] for s in stages),
            "spark.scheduler_delay_s": delay,
        }

    def scoring_counters(self, root: int) -> dict[str, float]:
        names = ("scoring",)
        return {
            "scoring.self_s": self.self_s(root, "scoring"),
            "scoring.python_worker_s": self.node_metric(root, names, "MapInPandas", PYTHON_TIME),
            "scoring.arrow_in_mb": self.node_metric(root, names, "MapInPandas", ARROW_IN) / 1e6,
            "scoring.arrow_out_mb": self.node_metric(root, names, "MapInPandas", ARROW_OUT) / 1e6,
        }

    def shuffle(self, root: int, names, prefix: str) -> dict[str, float]:
        st = self.stages_in(root, names)
        return {
            f"{prefix}.shuffle_mb": sum(s["shuffle_write_bytes"] for s in st) / 1e6,
            f"{prefix}.shuffle_records": sum(s["shuffle_write_records"] for s in st),
        }

    def layer_metrics(self) -> dict[str, float]:
        """Median over traced iterations of each per-layer metric."""
        traced = self.roots(self.main, True)
        per_root = [{**self.layer_values(r), **self.spark_counters(r)} for r in traced]
        out = {k: float(median([v[k] for v in per_root if k in v])) for k in LAYER_METRICS}
        out["trace.overhead_s"] = median([self.T.duration(r) for r in traced]) - median(
            [self.T.duration(r) for r in self.roots(self.main, False)]
        )
        return out

    # -- the end-to-end metrics ----------------------------------------------

    def work_p50_s(self) -> float:
        return median(self.samples(self.main))

    def work_cpu_s(self) -> float:
        """Median CPU seconds of the process tree per untraced unit."""
        return median([
            self.T.spans[r]["cpu_end"] - self.T.spans[r]["cpu_start"]
            for r in self.roots(self.main, False)
        ])

    def samples(self, name: str) -> list[float]:
        """Durations of the untraced root spans called ``name``, or else of
        the spans called ``name`` inside untraced main root spans."""
        roots = self.roots(name, False)
        if roots:
            return [self.T.duration(r) for r in roots]
        return [
            self.T.duration(s["id"])
            for r in self.roots(self.main, False)
            for s in self.T.subtree(r) if s["name"] == name
        ]


class PanelBatch(Workload):
    """One pass over a corpus snapshot, in the order a batch pipeline runs
    it, once per run (and once more, traced, in a traced run): pre-scoring
    curation (repeated_spans(n=8) and simhash_near_pairs,
    each to parquet); the stored sentiment panel (parquet scan ->
    compute_sentiment_udf -> aggregate_docs -> measures_fill ->
    aggregate_time -> compress_series_df -> parquet); attributions_docs over
    the stored sentiment and its day panel (to parquet)."""

    name = "panel_batch"
    main = "snapshot"
    LAG = 24
    ATTRIB_LAG = 7
    # the md5 / 60-bit variant has a DuckDB oracle; the cap is far above any
    # bucket the generator makes, and the oracle (uncapped) would catch one
    SIMHASH = dict(id_col="doc_id", max_hamming=3, bands=4, bits=60, hash_fn="md5",
                   max_bucket_size=1024)

    def generate(self, g: gen.Generator) -> None:
        self.docs = g.snapshot()
        self.warm_docs = g.snapshot("warmup", gen.WARMUP_DOCS)
        self.kernels = setup_time_weights((TimeKernelSpec("almon", orders_alm=(1, 2)),), self.LAG)
        self.attrib_kernels = setup_time_weights(
            (TimeKernelSpec("almon", orders_alm=(1, 2), do_inverse_alm=True),), self.ATTRIB_LAG
        )
        rng = np.random.default_rng(self.seed)
        self.coefs = pd.Series({
            f"{lx}--{ft}--{tw}": float(rng.normal())
            for lx in self.lex.lexicon_names() for ft in FEATURE_SQL for tw in self.attrib_kernels
        })

    def setup(self) -> None:
        """Read the snapshot and make the attribution inputs with the
        library: the stored sentiment and its day panel (fill='latest' with
        src_ts)."""
        spark = self.spark
        compute_sentiment_udf(
            build_pages(spark, self.docs, with_html=False), self.lex, "proportional", mode="unigram"
        ).write.mode("overwrite").parquet(self.path("sentiment"))
        sent = spark.read.parquet(self.path("sentiment"))
        m = aggregate_docs(sent, by="day", how="equal_weight", keep_partials=False)
        measures_fill(
            m.select("bucket_ts", "lexicon", "feature", "value"),
            by="day", fill="latest", keep_source=True,
        ).write.mode("overwrite").parquet(self.path("day_panel"))

    def warm(self) -> None:
        """One pass over the warm-up snapshot (same days and duplication,
        fewer documents), with attribution over the snapshot's inputs. The
        timed unit of an untraced run is the one pass over the snapshot after
        set-up: a batch job runs it once per session, so it pays the cold
        code paths."""
        self.unit(self.warm_docs, "warm_")

    def unit(self, docs: str, prefix: str = "") -> None:
        """Curation, the stored panel and attribution; outputs go to
        ``<prefix>spans``, ``<prefix>pairs``, ``<prefix>panel_out`` and
        ``<prefix>attrib_out``."""
        T = self.T
        with T.span("curation"):
            self.curate(docs, prefix)
        with T.span("panel"):
            self.panel(docs, prefix)
        with T.span("attribution"):
            self.attribution().write.mode("overwrite").parquet(self.path(prefix + "attrib_out"))

    def curate(self, d: str, prefix: str) -> None:
        docs = self.layer(
            "corpus.scan",
            lambda: self.spark.read.parquet(f"{d}/documents.parquet").select("doc_id", "text"),
        )
        with self.T.span("dedup.spans"):
            repeated_spans(docs, n=8, min_repeats=2).write.mode("overwrite").parquet(
                self.path(prefix + "spans")
            )
        with self.T.span("dedup.simhash"):
            simhash_near_pairs(docs, **self.SIMHASH).write.mode("overwrite").parquet(
                self.path(prefix + "pairs")
            )

    def panel(self, docs: str, prefix: str) -> None:
        pages = self.layer("corpus.scan", lambda: build_pages(self.spark, docs, with_html=False))
        sent = self.layer(
            "scoring", lambda: compute_sentiment_udf(pages, self.lex, "proportional", mode="unigram")
        )
        m = self.layer(
            "doc_agg",
            lambda: aggregate_docs(sent, by="hour", how="proportional", keep_partials=False),
        )
        filled = self.layer(
            "time_agg.fill",
            lambda: measures_fill(
                m.select("bucket_ts", "lexicon", "feature", "value"), by="hour", fill="zero"
            ),
        )
        rolled = self.layer(
            "time_agg.roll",
            lambda: aggregate_time(filled, self.kernels, self.LAG, check_lag=False),
        )
        with self.T.span("gorilla") if self.T.detail else contextlib.nullcontext():
            compress_series_df(rolled).write.mode("overwrite").parquet(
                self.path(prefix + "panel_out")
            )

    def attribution(self):
        spark = self.spark
        sent = spark.read.parquet(self.path("sentiment"))
        return attributions_docs(
            sent,
            doc_weights(sent, by="day", how="equal_weight"),
            spark.read.parquet(self.path("day_panel")),
            coef_df(spark, self.coefs),
            self.attrib_kernels,
            self.ATTRIB_LAG,
            "day",
        )

    def step(self, traced: bool) -> bool:
        if self.roots(self.main, traced):
            return False  # one pass of each kind per run
        T = self.T
        with T.span("snapshot", traced=traced) as root:
            self.unit(self.docs)
        if traced:
            # rows of the materialized pages, doc_agg and fill outputs
            root["rows"] = [self._cached[i].count() for i in (1, 3, 4)]
        self.release()
        self.guard(root["id"], {
            "dedup.spans": ("Exchange", None),
            "dedup.simhash": ("Exchange", None),
            "scoring" if traced else "panel": ("MapInPandas", PYTHON_TIME),
            "attribution": ("Exchange", None),
        })
        return True

    def layer_values(self, root: int) -> dict[str, float]:
        pages, observed, spine = self.T.spans[root]["rows"]
        dedup = ("dedup.spans", "dedup.simhash")
        st = self.stages_in(root, dedup)
        widest = max(st, key=lambda s: s["shuffle_read_records"])
        runs = sorted(t["run_s"] for t in self.status.tasks(widest["stage"], widest["attempt"]))
        attrib = self.stages_in(root, ("attribution",))
        return {
            "corpus.scan_s": self.self_s(root, "corpus.scan"),
            "corpus.rows": pages,
            "scoring.docs": pages,
            **self.scoring_counters(root),
            "doc_agg.self_s": self.self_s(root, "doc_agg"),
            **self.shuffle(root, ("doc_agg",), "doc_agg"),
            "time_agg.fill_s": self.self_s(root, "time_agg.fill"),
            "time_agg.roll_s": self.self_s(root, "time_agg.roll"),
            "time_agg.spine_rows": spine,
            "time_agg.observed_rows": observed,
            "gorilla.encode_s": self.self_s(root, "gorilla"),
            "gorilla.bytes_per_point": self.bytes_per_point,
            "attribution.self_s": self.self_s(root, "attribution"),
            "attribution.shuffle_mb": sum(s["shuffle_write_bytes"] for s in attrib) / 1e6,
            "attribution.spill_mb": sum(s["spill_bytes"] for s in attrib) / 1e6,
            "attribution.sort_merge_joins": self.node_metric(root, ("attribution",), "SortMergeJoin"),
            "dedup.spans_s": self.self_s(root, "dedup.spans"),
            "dedup.simhash_s": self.self_s(root, "dedup.simhash"),
            **self.shuffle(root, dedup, "dedup"),
            "dedup.task_skew": runs[-1] / max(median(runs), 1e-3),
        }

    def collect_counters(self) -> None:
        super().collect_counters()
        blobs = self.spark.read.parquet(self.path("panel_out")).agg(
            F.sum(F.length("blob")).alias("b"), F.sum("n_points").alias("n")
        ).first()
        self.bytes_per_point = blobs["b"] / blobs["n"]

    def report(self) -> dict[str, str]:
        out = {}
        for name, label in (("curation", "curation_s"), ("panel", "panel_s"),
                            ("attribution", "attrib_s")):
            xs = self.samples(name)
            out[label] = f"{median(xs):.4f} s (median of {len(xs)})"
        panels = [
            s["id"] for r in self.roots(self.main, True)
            for s in self.T.subtree(r) if s["name"] == "panel"
        ]
        if panels:
            # the layer spans are the panel span's children
            layers = median([self.T.duration(p) - self.T.self_time(p) for p in panels])
            traced = median([self.T.duration(p) for p in panels])
            out["panel_s traced"] = (
                f"{traced:.4f} s, {layers:.4f} s of it in layer spans; "
                f"{traced - median(self.samples('panel')):.4f} s over untraced"
            )
        return out

    def check(self) -> list[str]:
        return (
            checks.curation(self.spark, self.docs, self.path("spans"), self.path("pairs"))
            + checks.panel(self.spark, self.docs, self.path("panel_out"), self.kernels, self.LAG)
            + checks.attribution(
                self.spark, self.path("attrib_out"), self.path("day_panel"), self.coefs,
                self.attrib_kernels, self.ATTRIB_LAG,
            )
        )


class TierRefresh(Workload):
    """Closed loop, one client: each micro-batch is handed off only after
    the previous one committed. A batch runs build_pages ->
    compute_sentiment_udf -> base_tier -> apply_refresh_exactly_once into a
    TierStore that already holds a history; every RETAIN_EVERY-th batch
    also runs TierStore.apply_retention on every tier."""

    name = "tier_refresh"
    main = "refresh"
    # three triggers at least: their median discounts the first, which runs
    # the refresh path cold (a warm-up trigger would cost as much)
    MIN_STEPS = 3
    RETAIN_EVERY = 4
    POLICY = RetentionPolicy()

    def generate(self, g: gen.Generator) -> None:
        self.history, self.batches = g.stream()
        self._pending_reads: list = []

    def setup(self) -> None:
        """Load a fresh store with the history."""
        root = self.path("store")
        shutil.rmtree(root, ignore_errors=True)
        self.store = TierStore(self.spark, root)
        sent = compute_sentiment_udf(
            build_pages(self.spark, self.history, with_html=False),
            self.lex, "proportional", mode="unigram",
        ).persist()
        for tier, df in build_all_tiers(sent, "proportional").items():
            self.store.write(tier, df)
        sent.unpersist()
        self.applied = []
        self.next_batch = 0

    def batch(self, b: int) -> None:
        d = self.batches[b]
        pages = self.layer("corpus.scan", lambda: build_pages(self.spark, d, with_html=False))
        sent = self.layer(
            "scoring", lambda: compute_sentiment_udf(pages, self.lex, "proportional", mode="unigram")
        )
        partials = self.layer("doc_agg", lambda: base_tier(sent, "proportional", by="hour"))
        with self.T.span("streaming.apply"):
            apply_refresh_exactly_once(self.store, partials, b)
        if b % self.RETAIN_EVERY == self.RETAIN_EVERY - 1:
            # opened in untraced iterations too: retention runs on few of
            # them, so its samples come from all
            with self.T.span("tiers.retention"):
                for tier in TIER_ORDER:
                    self.store.apply_retention(tier, self.POLICY)

    def step(self, traced: bool) -> bool:
        b = self.next_batch
        if b >= len(self.batches):
            return False
        with self.T.span("refresh", traced=traced, batch=b) as root:
            self.batch(b)
        if traced:
            root["rows"] = self._cached[0].count()
        self.release()
        self.applied.append(b)
        self.next_batch += 1
        self.guard(root["id"], {"": ("MapInPandas", PYTHON_TIME)})
        return True

    def wrap(self) -> None:
        """Wrap, from here, the public callables apply_refresh_exactly_once
        reaches: refresh_continuous and the TierStore reads and upserts.
        Outside traced iterations the wrappers call straight through."""
        T, wl = self.T, self
        orig_refresh = tiers.refresh_continuous
        orig_read = TierStore.read_dates
        orig_upsert = TierStore.upsert_partitions

        def refresh_continuous(store, new_hour_partials, *a, **kw):
            if not T.detail:
                return orig_refresh(store, new_hour_partials, *a, **kw)
            new_bytes = sum(
                os.path.getsize(urlparse(f).path) for f in new_hour_partials.inputFiles()
            )
            with T.span("tiers.refresh", new_bytes=new_bytes) as s:
                s["rewritten"] = orig_refresh(store, new_hour_partials, *a, **kw)
            return s["rewritten"]

        def read_dates(store, tier, dates):
            if not T.detail:
                return orig_read(store, tier, dates)
            with T.span("tiers.read", tier=tier):
                df = orig_read(store, tier, dates).persist(StorageLevel.MEMORY_AND_DISK)
                df.write.format("noop").mode("overwrite").save()
            wl._pending_reads.append(df)
            return df

        def upsert_partitions(store, tier, df):
            if not T.detail:
                return orig_upsert(store, tier, df)
            with T.span(f"tiers.{tier}.upsert"):
                orig_upsert(store, tier, df)
            # a cached read must not outlive the write that consumed it: a
            # later read of the same partitions would match its plan and
            # see the pre-write rows
            for r in wl._pending_reads:
                r.unpersist()
            wl._pending_reads.clear()

        tiers.refresh_continuous = refresh_continuous
        TierStore.read_dates = read_dates
        TierStore.upsert_partitions = upsert_partitions

    def layer_values(self, root: int) -> dict[str, float]:
        T = self.T
        sub = T.subtree(root)
        apply = next(s for s in sub if s["name"] == "streaming.apply")
        refresh = next(s for s in sub if s["name"] == "tiers.refresh")
        commit = apply["end"] - refresh["end"]
        upserts = tuple(f"tiers.{t}.upsert" for t in TIER_ORDER)
        written = sum(s["output_bytes"] for s in self.stages_in(root, upserts))
        out = {
            "corpus.scan_s": self.self_s(root, "corpus.scan"),
            "corpus.rows": T.spans[root]["rows"],
            "scoring.docs": T.spans[root]["rows"],
            **self.scoring_counters(root),
            "doc_agg.self_s": self.self_s(root, "doc_agg"),
            **self.shuffle(root, ("doc_agg",), "doc_agg"),
            "tiers.read_s": self.self_s(root, "tiers.read"),
            **{f"tiers.{t}.upsert_s": self.self_s(root, f"tiers.{t}.upsert") for t in TIER_ORDER},
            "tiers.partitions_rewritten": sum(refresh["rewritten"].values()),
            "tiers.bytes_written_mb": written / 1e6,
            "tiers.write_amp": written / refresh["new_bytes"],
            "streaming.stage_s": T.self_time(apply["id"]) - commit,
            "streaming.commit_s": commit,
            "tiers.retention_s": median(self.retention_samples()),
        }
        return out

    def retention_samples(self) -> list[float]:
        return [self.T.duration(s["id"]) for s in self.T.spans if s["name"] == "tiers.retention"]

    def after_loop(self) -> None:
        self.store_mb_end = self.store_mb()

    def store_mb(self) -> float:
        total = 0
        for tier in TIER_ORDER:
            for d, _, files in os.walk(self.store.path(tier)):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total / 1e6

    def report(self) -> dict[str, str]:
        lat = sorted(self.samples("refresh"))
        ret = self.retention_samples()
        n = len(lat)
        # the highest percentile with at least 10 samples beyond it
        tail = (
            f"{np.percentile(lat, 100 * (n - 10) / n):.4f} s "
            f"(p{100 * (n - 10) // n} of {n})" if n > 10 else f"n/a ({n} samples, needs 11)"
        )
        return {
            "refresh_p50_s": f"{median(lat):.4f} s (median of {n})",
            "refresh_tail_s": tail,
            "retention_s": f"{median(ret):.4f} s (median of {len(ret)})" if ret
                           else "n/a (no timed trigger ran retention)",
            # documents folded per second of loop time
            "ingest_docs_per_s": f"{gen.STREAM['batch_docs'] * n / sum(lat):.2f} docs/s",
            "store_mb": f"{self.store_mb_end:.4f} MB",
        }

    def check(self) -> list[str]:
        for tier in TIER_ORDER:
            self.store.apply_retention(tier, self.POLICY)
        pages = reduce(
            lambda a, b: a.unionByName(b),
            [
                build_pages(self.spark, d, with_html=False)
                for d in [self.history] + [self.batches[b] for b in self.applied]
            ],
        )
        return checks.tiers(self.spark, self.store, pages, self.lex, self.POLICY, self.applied)


WORKLOADS = {w.name: w for w in (PanelBatch, TierRefresh)}
