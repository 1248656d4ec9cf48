"""Output checks, run after the timed loop. Each returns a list of
mismatch messages (empty when the outputs are correct).

The oracles are the repository's own: the DuckDB SQL in
``sentometrics_spark.entry_queries`` over the generated ``documents`` table,
compared by the rule of ``scripts/check_oracles.py:compare`` (row counts,
then values sorted and compared bit for bit after the shared 6-digit
rounding).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.tiers import TIER_ORDER, build_all_tiers
from sentometrics_spark.entry_queries import SQL_REPEATED_SPANS, measures_sql, oracle_sql
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf
from sentometrics_spark.storage.gorilla import decompress_blob_rows, encode

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TSFMT = "%Y-%m-%d %H:%M:%S"


def _compare():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _duckdb(docs_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_dir}/documents.parquet/*.parquet')"
    )
    return con


def _r6(x: np.ndarray) -> np.ndarray:
    # the oracles' rounding, floor(x * 1000000 + 0.5 + 1e-9) / 1000000.0
    return np.floor(x * 1000000 + 0.5 + 1e-9) / 1000000.0


def _oracle(name: str, con, sql: str, got: pd.DataFrame) -> list[str]:
    ok, msg = _compare()(got, con.execute(sql).df())
    return [] if ok else [f"{name}: {msg}"]


def panel(spark, docs_dir: str, out_dir: str, kernels: dict, lag: int) -> list[str]:
    """The stored Gorilla panel: every blob round-trips through
    decompress_blob_rows bit for bit, and the decoded points equal the
    parametric DuckDB measures oracle (hour buckets, fill zero,
    proportional doc weights)."""
    rows = spark.read.parquet(out_dir).collect()
    out = []
    for r in rows:
        pts = decompress_blob_rows([r])
        ts = pts["bucket_ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
        if len(pts) != r["n_points"] or encode(ts, pts["value"].to_numpy()) != bytes(r["blob"]):
            out.append(f"gorilla: series {r['lexicon']}/{r['feature']}/{r['timeweight']} "
                       "does not round-trip")
    got = decompress_blob_rows(rows)
    got["bucket_ts"] = got["bucket_ts"].dt.strftime(TSFMT)
    got["value"] = _r6(got["value"].to_numpy())
    sql = measures_sql("hour", lag, kernels, "zero", doc_how="proportional")
    return out + _oracle("panel", _duckdb(docs_dir), sql, got)


def attribution(spark, attrib_dir: str, day_panel_dir: str, coefs: pd.Series, kernels: dict,
                lag: int) -> list[str]:
    """Per prediction date, the stored document attributions sum to the
    model's prediction from the day panel: sum over measures and kernels of
    coef x rolled value, rolled here in numpy."""
    got = spark.read.parquet(attrib_dir).groupBy("pred_ts").agg(F.sum("attrib").alias("a")).toPandas()
    got = got.set_index("pred_ts")["a"].sort_index()
    panel = spark.read.parquet(day_panel_dir).toPandas()
    want = pd.Series(0.0, index=pd.DatetimeIndex(sorted(panel["bucket_ts"].unique())))
    for (lx, ft), g in panel.groupby(["lexicon", "feature"]):
        g = g.sort_values("bucket_ts")
        v = g["value"].to_numpy()
        for tw, w in kernels.items():
            rolled = sum(v[lag - 1 - k:len(v) - k] * w[lag - 1 - k] for k in range(lag))
            want.iloc[lag - 1:] += coefs[f"{lx}--{ft}--{tw}"] * rolled
    want = want.iloc[lag - 1:]
    if not got.index.isin(want.index).all():
        return ["attribution: prediction dates outside the panel"]
    want_got = want.reindex(got.index)
    missing = want.drop(got.index)
    if not (np.allclose(got.to_numpy(), want_got.to_numpy(), rtol=1e-9, atol=1e-9)
            and np.allclose(missing.to_numpy(), 0.0, atol=1e-9)):
        err = np.max(np.abs(got.to_numpy() - want_got.to_numpy()))
        return [f"attribution: document sums differ from the prediction (max {err:.2e})"]
    return []


_OFFSET = {
    "hour": lambda h: pd.Timedelta(hours=h),
    "day": lambda h: pd.Timedelta(days=h),
    "week": lambda h: pd.Timedelta(weeks=h),
    "month": lambda h: pd.DateOffset(months=h),
}


def tiers(spark, store, pages, lex, policy, applied: list[int]) -> list[str]:
    """Each stored tier equals build_all_tiers over the union of the
    history and every applied batch, restricted to the buckets retention
    keeps; every applied batch is in the ledger and no stage is left."""
    sent = compute_sentiment_udf(pages, lex, "proportional", mode="unigram").persist()
    full = build_all_tiers(sent, "proportional")
    keys = ["bucket_ts", "lexicon", "feature"]
    out = []
    for tier in TIER_ORDER:
        want = full[tier].toPandas()
        horizon = policy.horizon(tier)
        if horizon is not None:
            want = want[want["bucket_ts"] > want["bucket_ts"].max() - _OFFSET[tier](horizon)]
        got = store.read(tier).toPandas()
        want, got = (
            d.sort_values(keys).reset_index(drop=True)[list(want.columns)] for d in (want, got)
        )
        if len(got) != len(want) or not got[keys].equals(want[keys]):
            out.append(f"tiers.{tier}: {len(got)} rows stored, {len(want)} expected, keys differ")
            continue
        for c in ("n_docs", "n_docs_in"):
            if not (got[c] == want[c]).all():
                out.append(f"tiers.{tier}: {c} differs")
        for c in ("value", "wsum", "wden"):
            if not np.allclose(got[c], want[c], rtol=1e-9, atol=1e-12, equal_nan=True):
                out.append(f"tiers.{tier}: {c} differs")
    sent.unpersist()
    ledger = os.path.join(store.root, "_stream_applied")
    unmarked = [b for b in applied if not os.path.exists(os.path.join(ledger, f"batch_{b}"))]
    if unmarked:
        out.append(f"streaming: batches {unmarked} missing from the ledger")
    if os.listdir(os.path.join(store.root, "_stream_stage")):
        out.append("streaming: stage directories left behind")
    return out


def curation(spark, docs_dir: str, spans_dir: str, pairs_dir: str) -> list[str]:
    """Both outputs equal the repository's repeated_spans (n=8) and simhash
    (md5, 60 bits, 4 bands, hamming <= 3) oracle SQL."""
    con = _duckdb(docs_dir)
    spans = spark.read.parquet(spans_dir).select(
        F.col("doc_id").cast("long"), "span_start", "span_end"
    ).toPandas()
    pairs = spark.read.parquet(pairs_dir).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), F.col("hamming").cast("long")
    ).toPandas()
    return (
        _oracle("repeated_spans", con, SQL_REPEATED_SPANS, spans)
        + _oracle("simhash_near_pairs", con, oracle_sql()["simhash_near_pairs"], pairs)
    )
