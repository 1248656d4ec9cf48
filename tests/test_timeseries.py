"""Irregular-timeseries operators: as-of join (union-window), time-weighted
average, OHLC rollup. Oracles: pandas merge_asof + hand integrals."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.timeseries import asof_join, ohlc, time_weighted_avg

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _t(minutes, seconds=0.0):
    return T0 + timedelta(minutes=minutes, seconds=seconds)


@pytest.fixture(scope="module")
def quotes(spark):
    # two keys; key 1 has an exact-tie quote at t=10
    rows = [
        (1, _t(0), 100.0),
        (1, _t(10), 101.0),
        (1, _t(30), 102.0),
        (2, _t(5), 200.0),
        (2, _t(50), 201.0),
    ]
    return spark.createDataFrame(rows, "k int, ts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        (1, _t(10), "a"),   # exact tie with quote @10
        (1, _t(12), "b"),
        (1, _t(29), "c"),
        (2, _t(4), "d"),    # before any quote for key 2
        (2, _t(60), "e"),
        (3, _t(7), "f"),    # key with no quotes at all
    ]
    return spark.createDataFrame(rows, "k int, ts timestamp, tag string")


def _pandas_asof(trades, quotes, direction, tolerance=None, allow_exact=True):
    lp = trades.toPandas().sort_values("ts")
    rp = quotes.toPandas().sort_values("ts").rename(columns={"ts": "asof_ts"})
    return pd.merge_asof(
        lp, rp, left_on="ts", right_on="asof_ts", by="k",
        direction=direction, tolerance=tolerance, allow_exact_matches=allow_exact,
    )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tol", [None, 600.0])
def test_asof_matches_pandas(spark, quotes, trades, direction, tol):
    got = (
        asof_join(trades, quotes, on="ts", by=["k"], payload=["px"],
                  direction=direction, tolerance_seconds=tol)
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    )
    exp = _pandas_asof(
        trades, quotes, direction,
        tolerance=pd.Timedelta(seconds=tol) if tol else None,
    ).sort_values(["k", "ts"]).reset_index(drop=True)
    assert (got["px"].fillna(-1).to_numpy() == exp["px"].fillna(-1).to_numpy()).all()
    assert (got["asof_ts"].astype(str) == exp["asof_ts"].astype(str)).all()
    # left-outer: every trade survives, key 3 unmatched
    assert len(got) == 6
    assert got[got.k == 3]["px"].isna().all()


def test_asof_exact_tie_semantics(spark, quotes, trades):
    """allow_exact toggles whether the quote AT the trade's timestamp
    matches (pandas allow_exact_matches semantics)."""
    inc = asof_join(trades, quotes, on="ts", by=["k"], payload=["px"]).toPandas()
    exc = asof_join(
        trades, quotes, on="ts", by=["k"], payload=["px"], allow_exact=False
    ).toPandas()
    row_inc = inc[(inc.k == 1) & (inc.tag == "a")].iloc[0]
    row_exc = exc[(exc.k == 1) & (exc.tag == "a")].iloc[0]
    assert row_inc["px"] == 101.0  # the t=10 quote itself
    assert row_exc["px"] == 100.0  # strictly-before only
    exp = _pandas_asof(trades, quotes, "backward", allow_exact=False)
    g = exc.sort_values(["k", "ts"]).reset_index(drop=True)
    e = exp.sort_values(["k", "ts"]).reset_index(drop=True)
    assert (g["px"].fillna(-1).to_numpy() == e["px"].fillna(-1).to_numpy()).all()


def test_asof_guards(spark, quotes, trades):
    with pytest.raises(ValueError, match="by"):
        asof_join(trades, quotes, on="ts", by=[])
    with pytest.raises(ValueError, match="collide"):
        asof_join(trades, quotes.withColumnRenamed("px", "tag"), on="ts", by=["k"])
    with pytest.raises(ValueError, match="direction"):
        asof_join(trades, quotes, on="ts", by=["k"], direction="sideways")


def test_asof_single_exchange(spark, quotes, trades):
    """The operator is a union + ONE window — exactly one Exchange beyond
    the (local) inputs, no SortMergeJoin/BroadcastHashJoin anywhere."""
    plan = (
        asof_join(trades, quotes, on="ts", by=["k"], payload=["px"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_twa_hand_integral(spark):
    """Bucket [00:00, 01:00), obs at :00 (v=10), :15 (v=20), :45 (v=40):
    LOCF weights 15, 30, 15 min -> twa = (10*15 + 20*30 + 40*15)/60 = 22.5.
    Second bucket has a single obs at :30 holding to the end -> twa = v."""
    df = spark.createDataFrame(
        [
            ("s", _t(0), 10.0, 1),
            ("s", _t(15), 20.0, 2),
            ("s", _t(45), 40.0, 3),
            ("s", _t(90), 7.0, 4),
        ],
        "k string, ts timestamp, value double, event_id int",
    )
    out = {
        str(r["bucket_ts"]): (r["twa"], r["n_obs"])
        for r in time_weighted_avg(
            df, series_keys=["k"], by="hour", tiebreak="event_id"
        ).collect()
    }
    assert out["2024-01-01 00:00:00"] == (22.5, 3)
    assert out["2024-01-01 01:00:00"] == (7.0, 1)


def test_twa_density_invariance(spark):
    """Densely resampling a constant-value stretch must NOT move the
    time-weighted average (it would wreck a plain AVG)."""
    sparse = [("s", _t(0), 10.0, 0), ("s", _t(30), 20.0, 1)]
    dense = sparse + [("s", _t(0, 1 + i), 10.0, 100 + i) for i in range(50)]
    r_sparse = time_weighted_avg(
        spark.createDataFrame(sparse, "k string, ts timestamp, value double, event_id int"),
        series_keys=["k"], by="hour", tiebreak="event_id",
    ).collect()[0]["twa"]
    r_dense = time_weighted_avg(
        spark.createDataFrame(dense, "k string, ts timestamp, value double, event_id int"),
        series_keys=["k"], by="hour", tiebreak="event_id",
    ).collect()[0]["twa"]
    assert abs(r_sparse - 15.0) < 1e-9
    assert abs(r_dense - r_sparse) < 1e-6


def test_ohlc_with_planted_tie(spark):
    """Two observations at the SAME timestamp: the tiebreak column decides
    open/close deterministically."""
    df = spark.createDataFrame(
        [
            ("s", _t(1), 5.0, 2),
            ("s", _t(1), 3.0, 1),   # same ts, lower event_id -> open
            ("s", _t(20), 9.0, 3),
            ("s", _t(40), 1.0, 4),
        ],
        "k string, ts timestamp, value double, event_id int",
    )
    r = ohlc(df, series_keys=["k"], by="hour", tiebreak="event_id").collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n_obs"]) == (
        3.0, 9.0, 1.0, 1.0, 4,
    )


def test_counter_rate_resets_and_additivity(spark):
    """Counter 0,10,25 | reset -> 5,11 in the next hour: increases are
    10+15=25 then 5(reset contributes absolute)+6=11; resets counted; and
    bucket increases sum to the whole-series corrected increase."""
    from sentometrics_spark.aggregate.timeseries import counter_rate

    df = spark.createDataFrame(
        [
            ("c", _t(0), 0.0),
            ("c", _t(10), 10.0),
            ("c", _t(50), 25.0),
            ("c", _t(70), 5.0),    # reset in hour 1
            ("c", _t(80), 11.0),
        ],
        "k string, ts timestamp, value double",
    )
    out = {
        str(r["bucket_ts"]): r
        for r in counter_rate(df, series_keys=["k"], by="hour").collect()
    }
    h0, h1 = out["2024-01-01 00:00:00"], out["2024-01-01 01:00:00"]
    assert h0["increase"] == 25.0 and h0["n_resets"] == 0 and h0["n_obs"] == 3
    assert h1["increase"] == 11.0 and h1["n_resets"] == 1 and h1["n_obs"] == 2
    assert abs(h0["rate"] - 25.0 / 3600.0) < 1e-15
    # additivity: sum over buckets == total corrected increase
    assert h0["increase"] + h1["increase"] == 36.0


def _lttb_reference(points, n_out):
    """Independent plain-loop LTTB (Steinarsson 2013, §4.2): same bucket
    edges (linspace over interior), earliest-on-tie argmax."""
    import numpy as np

    n = len(points)
    if n <= n_out:
        return list(range(n))
    edges = np.linspace(1, n - 1, n_out - 1).astype(int)
    sel = [0]
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        if b < n_out - 3:
            nlo, nhi = edges[b + 1], edges[b + 2]
        else:
            nlo, nhi = n - 1, n
        cx = sum(p[0] for p in points[nlo:nhi]) / (nhi - nlo)
        cy = sum(p[1] for p in points[nlo:nhi]) / (nhi - nlo)
        ax, ay = points[prev]
        best, best_area = lo, -1.0
        for i in range(lo, hi):
            area = abs((ax - cx) * (points[i][1] - ay) - (ax - points[i][0]) * (cy - ay))
            if area > best_area:
                best, best_area = i, area
        sel.append(best)
        prev = best
    sel.append(n - 1)
    return sel


def test_lttb_matches_reference_and_properties(spark):
    from sentometrics_spark.aggregate.timeseries import lttb_downsample

    rows = []
    vals = [((i * 37) % 101) * 1.0 + (3.0 if i % 17 == 0 else 0.0) for i in range(200)]
    for i, v in enumerate(vals):
        rows.append(("s", _t(i), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = (
        lttb_downsample(df, n_out=20, series_keys=["k"])
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    assert len(out) == 20
    assert str(out["ts"].iloc[0]) == str(_t(0)) and str(out["ts"].iloc[-1]) == str(_t(199))
    assert out["ts"].is_monotonic_increasing
    pts = [(float(pd.Timestamp(t).value), v) for t, v in zip(
        [_t(i) for i in range(200)], vals)]
    ref = _lttb_reference(pts, 20)
    assert [str(t) for t in out["ts"]] == [str(_t(i)) for i in ref]
    assert (out["value"].to_numpy() == np.array(vals)[ref]).all()


def test_lttb_passthrough_and_guards(spark):
    from sentometrics_spark.aggregate.timeseries import lttb_downsample

    df = spark.createDataFrame(
        [("s", _t(i), float(i)) for i in range(5)],
        "k string, ts timestamp, value double",
    )
    assert lttb_downsample(df, n_out=10, series_keys=["k"]).count() == 5
    with pytest.raises(ValueError, match="n_out"):
        lttb_downsample(df, n_out=2, series_keys=["k"])
    with pytest.raises(ValueError, match="series_keys"):
        lttb_downsample(df, n_out=3)


def test_interval_join_semantics_and_plan(spark):
    """Inclusive endpoints, bucket-straddling intervals, multi-match
    points, left-outer NULLs; the plan is a hash join over (by, bucket) —
    no NestedLoop/Cartesian despite the range predicate."""
    from sentometrics_spark.aggregate.timeseries import interval_join

    pts = spark.createDataFrame(
        [(1, _t(0), 10), (1, _t(30), 11), (1, _t(90), 12), (1, _t(200), 13),
         (2, _t(50), 14)],
        "k int, ts timestamp, pid int",
    )
    iv = spark.createDataFrame(
        [(1, _t(0), _t(90), "a"),      # spans two hour buckets; end inclusive
         (1, _t(60), _t(300), "b"),    # overlaps 'a' -> pid 12 matches both
         (2, _t(0), _t(10), "c")],     # contains no point
        "k int, start_ts timestamp, end_ts timestamp, tag string",
    )
    got = sorted(
        (r["pid"], r["tag"])
        for r in interval_join(pts, iv, by=["k"]).select("pid", "tag").collect()
    )
    assert got == [(10, "a"), (11, "a"), (12, "a"), (12, "b"), (13, "b")]
    left = interval_join(pts, iv, by=["k"], how="left").select("pid", "tag").collect()
    assert len(left) == 6
    assert sorted(r["pid"] for r in left if r["tag"] is None) == [14]
    plan = (
        interval_join(pts, iv, by=["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_interval_join_left_null_attrs_and_duplicate_points(spark):
    """how='left' joins back on a surrogate row id, NOT the point columns:
    a NULL attribute must not orphan its own matched copy (NULL != NULL
    under an equi-join), and duplicate point rows must map 1:1 to their
    matches, never cross-multiply (2 identical points x 2 matched copies
    used to yield 4 rows)."""
    from sentometrics_spark.aggregate.timeseries import interval_join

    pts = spark.createDataFrame(
        [(1, _t(10), 10, None),      # NULL attr, matched by 'a'
         (1, _t(20), 11, "x"),       # duplicate row 1/2
         (1, _t(20), 11, "x"),       # duplicate row 2/2
         (1, _t(500), 12, None)],    # NULL attr, unmatched
        "k int, ts timestamp, pid int, attr string",
    )
    iv = spark.createDataFrame(
        [(1, _t(0), _t(90), "a")],
        "k int, start_ts timestamp, end_ts timestamp, tag string",
    )
    out = interval_join(pts, iv, by=["k"], how="left").collect()
    # one output row per point row: 2 singles + 2 duplicates
    assert len(out) == 4
    got = sorted((r["pid"], r["tag"]) for r in out)
    assert got == [(10, "a"), (11, "a"), (11, "a"), (12, None)]
    assert "__pid" not in interval_join(pts, iv, by=["k"], how="left").columns


def test_interval_join_guards(spark):
    from sentometrics_spark.aggregate.timeseries import interval_join
    from py4j.protocol import Py4JJavaError

    pts = spark.createDataFrame([(1, _t(0), 1)], "k int, ts timestamp, pid int")
    iv = spark.createDataFrame(
        [(1, _t(0), _t(60 * 24 * 600), "x")],
        "k int, start_ts timestamp, end_ts timestamp, tag string",
    )
    with pytest.raises(Exception, match="max_buckets"):
        interval_join(pts, iv, by=["k"], max_buckets=100).collect()
    with pytest.raises(ValueError, match="how"):
        interval_join(pts, iv, by=["k"], how="full")
    with pytest.raises(ValueError, match="collide"):
        interval_join(
            pts.withColumnRenamed("pid", "tag"), iv, by=["k"]
        )


def test_bucket_percentiles_exact_and_approx(spark):
    """Exact percentiles on a hand-computable bucket; the approx sketch
    path agrees within its rank-error bound on a larger stream."""
    from sentometrics_spark.aggregate.timeseries import bucket_percentiles

    df = spark.createDataFrame(
        [("s", _t(i), float(i)) for i in range(11)],  # values 0..10 in one hour? no: minutes 0..10
        "k string, ts timestamp, value double",
    )
    r = bucket_percentiles(df, qs=[0.5, 0.9], series_keys=["k"], by="hour").collect()[0]
    assert r["p50"] == 5.0 and r["p90"] == 9.0 and r["n_obs"] == 11
    big = spark.createDataFrame(
        [("s", _t(0, i * 0.1), float((i * 37) % 1000)) for i in range(5000)],
        "k string, ts timestamp, value double",
    )
    ex = bucket_percentiles(big, qs=[0.5, 0.99], series_keys=["k"]).collect()[0]
    ap = bucket_percentiles(
        big, qs=[0.5, 0.99], series_keys=["k"], mode="approx", accuracy=1000
    ).collect()[0]
    # rank error 1/accuracy = 0.1% of 5000 = 5 ranks ~ values move by <= ~40
    assert abs(ap["p50"] - ex["p50"]) <= 50
    assert abs(ap["p99"] - ex["p99"]) <= 50
    with pytest.raises(ValueError, match="mode"):
        bucket_percentiles(df, series_keys=["k"], mode="sketchy")


def test_rolling_zscore_flags_planted_spike(spark):
    from sentometrics_spark.aggregate.timeseries import rolling_zscore

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 100.0, 10.1]
    df = spark.createDataFrame(
        [("s", _t(i), v) for i, v in enumerate(vals)],
        "k string, ts timestamp, value double",
    )
    out = (
        rolling_zscore(df, window=8, min_periods=4, threshold=3.0, series_keys=["k"])
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    # first min_periods rows unscored
    assert out["z"].iloc[:4].isna().all()
    assert not out["is_anomaly"].iloc[:4].any()
    # the planted 100.0 is the only flag; the NEXT point is scored against
    # a window polluted by the spike but 10.1 is still within 3 sigma there
    assert list(out[out["is_anomaly"]]["value"]) == [100.0]
    # hand check z of the spike: mean/std of prior 8 values
    import statistics
    prior = vals[:8]
    zexp = (100.0 - statistics.mean(prior)) / statistics.stdev(prior)
    assert abs(out["z"].iloc[8] - zexp) < 1e-9
    # zero-variance window -> NULL z, no flag
    const = spark.createDataFrame(
        [("s", _t(i), 5.0) for i in range(6)] + [("s", _t(6), 9.0)],
        "k string, ts timestamp, value double",
    )
    o2 = rolling_zscore(const, window=6, min_periods=3, series_keys=["k"]).toPandas()
    assert o2.sort_values("ts")["z"].isna().iloc[:3].all()


def test_twa_single_exchange(spark):
    """bucket_ts is materialized before the window so the final groupBy
    reuses the window's hash partitioning — exactly one Exchange."""
    from sentometrics_spark.aggregate.timeseries import time_weighted_avg

    df = spark.createDataFrame(
        [("s", _t(i), float(i), i) for i in range(10)],
        "k string, ts timestamp, value double, event_id int",
    )
    plan = (
        time_weighted_avg(df, series_keys=["k"], tiebreak="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_linear_fill_interpolates_gaps(spark):
    """Observations at hours 0 (v=10) and 3 (v=40): hours 1/2 interpolate
    to 20/30; a head/tail gap carries the nearest observation flat;
    interpolated rows keep src_ts NULL (keep_source contract)."""
    from sentometrics_spark.aggregate.time_agg import measures_fill

    df = spark.createDataFrame(
        [("l", "f", _t(0), 10.0), ("l", "f", _t(180), 40.0)],
        "lexicon string, feature string, bucket_ts timestamp, value double",
    )
    out = {
        str(r["bucket_ts"]): (r["value"], r["src_ts"])
        for r in measures_fill(
            df, by="hour", fill="linear", keep_source=True,
            date_before="2023-12-31 22:00:00", date_after="2024-01-01 05:00:00",
        ).collect()
    }
    assert out["2024-01-01 00:00:00"][0] == 10.0
    assert out["2024-01-01 01:00:00"] == (20.0, None)
    assert out["2024-01-01 02:00:00"] == (30.0, None)
    assert out["2024-01-01 03:00:00"][0] == 40.0
    assert out["2023-12-31 23:00:00"] == (10.0, None)   # head: flat
    assert out["2024-01-01 04:00:00"] == (40.0, None)   # tail: flat
    # observed rows carry their own src_ts
    assert out["2024-01-01 00:00:00"][1] is not None


# ---------------------------------------------------------------------------
# ewma_time_decay / state_durations / detect_gaps
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def irregular(spark):
    # two series with very different densities + one planted hour-long gap
    rows = []
    for i in range(40):  # dense: every 2 min
        rows.append((1, i, _t(2 * i), float(10 + (i % 7))))
    for i in range(6):  # sparse: every 45 min
        rows.append((2, 100 + i, _t(45 * i), float(50 + 3 * i)))
    rows.append((1, 999, _t(2 * 39 + 90), 99.0))  # 90-min silence on key 1
    return spark.createDataFrame(
        rows, "k int, eid int, ts timestamp, value double"
    )


def test_ewma_matches_pandas_ewm_times(spark, irregular):
    from sentometrics_spark.aggregate.timeseries import ewma_time_decay

    out = ewma_time_decay(
        irregular, halflife_seconds=600.0, series_keys=["k"], tiebreak="eid"
    ).toPandas()
    pdf = irregular.toPandas().sort_values(["k", "ts", "eid"])
    for k, g in pdf.groupby("k"):
        exp = (
            g["value"]
            .ewm(halflife=pd.Timedelta(seconds=600), times=pd.DatetimeIndex(g["ts"]))
            .mean()
            .values
        )
        got = out[out.k == k].sort_values(["ts", "eid"])["ewma"].values
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12)


def test_ewma_time_not_sample_decay(spark, irregular):
    """Same elapsed time => same decay regardless of sample count: after a
    long silence the EWMA forgets at the TIME rate, so the 90-min-later
    spike on the dense key dominates just as it would on a sparse one."""
    from sentometrics_spark.aggregate.timeseries import ewma_time_decay

    out = (
        ewma_time_decay(
            irregular, halflife_seconds=600.0, series_keys=["k"], tiebreak="eid"
        )
        .filter("eid = 999")
        .collect()[0]["ewma"]
    )
    # 90 min = 9 halflives: the 40 old points retain ~1.5% combined weight
    # (2^-9 each, geometric backward), so the spike dominates ~97.7 vs the
    # pre-silence level ~13
    assert out > 97.0


def test_ewma_single_exchange_and_guards(spark, irregular):
    from sentometrics_spark.aggregate.timeseries import ewma_time_decay

    plan = (
        ewma_time_decay(irregular, 600.0, series_keys=["k"], tiebreak="eid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # min-over-key + running sums share it
    with pytest.raises(ValueError):
        ewma_time_decay(irregular, 0.0, series_keys=["k"])
    with pytest.raises(ValueError):
        ewma_time_decay(irregular, 600.0, series_keys=[])


def test_state_durations_hand_oracle_and_additivity(spark):
    from sentometrics_spark.aggregate.timeseries import state_durations

    rows = [
        (1, 1, _t(0), "up"),
        (1, 2, _t(10), "down"),
        (1, 3, _t(15), "up"),
        (2, 4, _t(5), "up"),
    ]
    df = spark.createDataFrame(rows, "k int, eid int, ts timestamp, state string")
    out = {
        (r["k"], r["state"]): r
        for r in state_durations(
            df, state="state", series_keys=["k"], tiebreak="eid",
            end_ts="2024-01-01 01:00:00",
        ).collect()
    }
    mn = 60_000_000  # one minute in us
    assert out[(1, "up")]["duration_us"] == 10 * mn + 45 * mn
    assert out[(1, "up")]["n_periods"] == 2
    assert out[(1, "down")]["duration_us"] == 5 * mn
    assert out[(2, "up")]["duration_us"] == 55 * mn
    # additivity: per-key durations sum to (horizon - first event)
    assert sum(r["duration_us"] for kk, r in out.items() if kk[0] == 1) == 60 * mn
    # without end_ts the final open period is excluded but still a visit
    open_out = {
        (r["k"], r["state"]): r
        for r in state_durations(
            df, state="state", series_keys=["k"], tiebreak="eid"
        ).collect()
    }
    assert open_out[(2, "up")]["duration_us"] == 0
    assert open_out[(2, "up")]["n_periods"] == 1
    assert open_out[(1, "up")]["duration_us"] == 10 * mn


def test_detect_gaps_planted(spark, irregular):
    from sentometrics_spark.aggregate.timeseries import detect_gaps

    got = detect_gaps(
        irregular, min_gap_seconds=3600.0, series_keys=["k"], tiebreak="eid"
    ).collect()
    # only the planted 90-min silence on key 1 qualifies at 1h threshold
    assert len(got) == 1 and got[0]["k"] == 1
    assert got[0]["gap_secs"] == pytest.approx(90 * 60.0)
    # at a 30-min threshold the sparse key's five 45-min steps join it
    got30 = detect_gaps(
        irregular, min_gap_seconds=1800.0, series_keys=["k"], tiebreak="eid"
    )
    assert got30.count() == 6
    plan = got30._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    with pytest.raises(ValueError):
        detect_gaps(irregular, 0.0, series_keys=["k"])


def test_topk_matches_pandas_and_two_phase_exact(spark):
    from sentometrics_spark.aggregate.timeseries import topk_per_bucket

    rng = np.random.default_rng(11)
    rows = [
        (
            int(i),
            T0 + timedelta(hours=int(rng.integers(0, 72))),
            f"d{int(rng.zipf(1.5)) % 40}",  # zipf-skewed key space
            float(rng.integers(1, 5)),
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "eid long, ts timestamp, dom string, w double")

    got = (
        topk_per_bucket(df, k=3, key="dom", by="day", weight="w")
        .toPandas()
        .sort_values(["bucket_ts", "rank"])
        .reset_index(drop=True)
    )
    pdf = df.toPandas()
    pdf["bucket_ts"] = pdf.ts.dt.floor("D")
    agg = pdf.groupby(["bucket_ts", "dom"], as_index=False).w.sum()
    # pandas oracle: weight desc, key asc, row_number <= 3
    agg = agg.sort_values(["bucket_ts", "w", "dom"], ascending=[True, False, True])
    agg["rank"] = agg.groupby("bucket_ts").cumcount() + 1
    exp = agg[agg["rank"] <= 3].reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["key"].values == exp.dom.values).all()
    assert got.weight.values == pytest.approx(exp.w.values)
    assert (got["rank"].values == exp["rank"].values).all()

    # two-phase (any m) is EXACT: weights are final after stage 1, so the
    # global top-k is inside the union of per-salt-group local top-ks
    for m in (2, 5, 64):
        two = (
            topk_per_bucket(df, k=3, key="dom", by="day", weight="w",
                            prefilter_groups=m)
            .toPandas()
            .sort_values(["bucket_ts", "rank"])
            .reset_index(drop=True)
        )
        assert (two["key"].values == got["key"].values).all()
        assert two.weight.values == pytest.approx(got.weight.values)

    # count mode (weight=None) and guards
    cnt = topk_per_bucket(df, k=1, key="dom", by="day")
    assert cnt.filter("rank > 1").count() == 0
    with pytest.raises(ValueError):
        topk_per_bucket(df, k=0, key="dom")

    # plan: stage-1 groupBy + one rank window = exactly two Exchanges
    plan = (
        topk_per_bucket(df, k=3, key="dom", by="day", weight="w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 2


def test_cusum_equals_clamped_recurrence(spark):
    from sentometrics_spark.aggregate.timeseries import cusum_changepoints

    rng = np.random.default_rng(5)
    # key 1: flat noise then a +4 level shift at i=60; key 2: pure noise
    x1 = np.concatenate([rng.normal(0, 1, 60), rng.normal(4, 1, 40)])
    x2 = rng.normal(10, 2, 80)
    rows = [
        (1, i, T0 + timedelta(minutes=i), float(v)) for i, v in enumerate(x1)
    ] + [
        (2, i, T0 + timedelta(minutes=i), float(v)) for i, v in enumerate(x2)
    ]
    df = spark.createDataFrame(rows, "k int, eid int, ts timestamp, x double")
    out = (
        cusum_changepoints(
            df, threshold_sigmas=5.0, drift_sigmas=0.5,
            on="ts", value="x", series_keys=["k"], tiebreak="eid",
        )
        .toPandas()
        .sort_values(["k", "eid"])
    )
    for k, xs in ((1, x1), (2, x2)):
        mu, sd = xs.mean(), xs.std(ddof=1)
        g = h = 0.0
        exp_g, exp_h = [], []
        for v in xs:
            g = max(0.0, g + (v - mu - 0.5 * sd))
            h = max(0.0, h + (mu - 0.5 * sd - v))
            exp_g.append(g)
            exp_h.append(h)
        sub = out[out.k == k]
        assert sub.cusum_up.values == pytest.approx(exp_g, abs=2e-6)
        assert sub.cusum_down.values == pytest.approx(exp_h, abs=2e-6)
    # the planted shift fires (and only) on key 1, after the shift point
    fired = out[out.shift_up]
    assert set(fired.k) == {1}
    assert fired.eid.min() >= 60
    # pure-noise key never crosses 5 sigma either way
    assert not out[out.k == 2][["shift_up", "shift_down"]].any().any()
    with pytest.raises(ValueError):
        cusum_changepoints(df, threshold_sigmas=0.0, series_keys=["k"])
    with pytest.raises(ValueError):
        cusum_changepoints(df, series_keys=[])
    plan = (
        cusum_changepoints(df, series_keys=["k"], value="x", tiebreak="eid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # every window shares one partitioning


def test_hll_rollup_error_bound_composition_determinism(spark):
    from sentometrics_spark.aggregate.timeseries import (
        hll_distinct_rollup,
        hll_distinct_tier,
    )

    rng = np.random.default_rng(3)
    rows = [
        (
            T0 + timedelta(hours=int(rng.integers(0, 96))),
            int(rng.integers(0, 5000)),
            "a" if i % 3 else "b",
        )
        for i in range(20_000)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, uid long, g string")

    tier = hll_distinct_tier(df, key="uid", by="hour", series_keys=["g"])
    merged = (
        hll_distinct_rollup(tier, to="day", series_keys=["g"])
        .toPandas().set_index(["g", "bucket_ts"]).sort_index()
    )
    exact = (
        df.select("g", F.date_trunc("day", "ts").alias("bucket_ts"), "uid")
        .distinct().groupBy("g", "bucket_ts").count()
        .toPandas().set_index(["g", "bucket_ts"]).sort_index()
    )

    # a completely different decomposition of the same rows (13 uid shards
    # per day instead of 24 hours per day): n_rows is EXACTLY additive
    # either way, and both estimates sit inside the HLL error bound of
    # exact (≈1.6% 1σ at lgk=12; 5% ≈ 3σ). Estimates are NOT bit-equal
    # across decompositions — DataSketches reports HIP for never-merged
    # sketches and the composite estimator after merges.
    shards = df.withColumn("shard", F.pmod(F.col("uid"), F.lit(13)))
    alt = hll_distinct_rollup(
        hll_distinct_tier(
            shards, key="uid", by="day", series_keys=["g", "shard"]
        ).drop("shard"),
        to="day", series_keys=["g"],
    ).toPandas().set_index(["g", "bucket_ts"]).sort_index()
    assert (merged.n_rows == alt.n_rows).all()
    for est in (merged.estimate, alt.estimate):
        rel = ((est - exact["count"]).abs() / exact["count"]).max()
        assert rel < 0.05

    # composes: hour -> day -> month stays inside the bound of the exact
    # month distincts
    month = hll_distinct_rollup(
        hll_distinct_rollup(tier, to="day", series_keys=["g"]),
        to="month", series_keys=["g"],
    ).toPandas().set_index(["g", "bucket_ts"]).sort_index()
    exact_month = (
        df.select("g", F.date_trunc("month", "ts").alias("bucket_ts"), "uid")
        .distinct().groupBy("g", "bucket_ts").count()
        .toPandas().set_index(["g", "bucket_ts"]).sort_index()
    )
    relm = (
        (month.estimate - exact_month["count"]).abs() / exact_month["count"]
    ).max()
    assert relm < 0.05

    # same plan, same data: estimates reproduce exactly
    rerun = (
        hll_distinct_rollup(tier, to="day", series_keys=["g"])
        .toPandas().set_index(["g", "bucket_ts"]).sort_index()
    )
    assert (rerun.estimate == merged.estimate).all()


def test_time_bucket_hand_and_guards(spark):
    from sentometrics_spark.aggregate.timeseries import time_bucket

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:07:12.345678",),
            ("1999-12-31 23:59:59",),      # pre-origin: floor, not trunc-to-zero
            ("2024-03-10 13:44:59.999999",),
            ("2000-01-03 00:00:00",),      # exactly the origin
        ],
        "s string",
    ).select(F.col("s").cast("timestamp").alias("ts"))
    got = [
        str(r[0])
        for r in df.select(time_bucket(F.col("ts"), 900.0)).collect()
    ]
    assert got == [
        "2024-01-01 00:00:00",
        "1999-12-31 23:45:00",
        "2024-03-10 13:30:00",
        "2000-01-03 00:00:00",
    ]
    # week-multiple widths align to ISO weeks (origin is a Monday)
    wk = [
        str(r[0])
        for r in df.select(time_bucket(F.col("ts"), 7 * 86400.0)).collect()
    ]
    assert wk[0] == "2024-01-01 00:00:00"  # 2024-01-01 is a Monday
    # sub-second width stays exact integer microseconds
    ms = df.select(time_bucket(F.col("ts"), 0.25)).collect()
    assert str(ms[0][0]) == "2024-01-01 00:07:12.250000"
    with pytest.raises(ValueError):
        time_bucket(F.col("ts"), 0.0)


def test_cohort_retention_hand_matrix(spark):
    from sentometrics_spark.aggregate.timeseries import cohort_retention

    # weeks W0=2024-01-01, W1=01-08, W2=01-15 (all Mondays)
    rows = [
        # u1: joins W0, active W0+W2 (skips W1); two events in W0 (dedup)
        (1, "2024-01-02 10:00:00"),
        (1, "2024-01-03 11:00:00"),
        (1, "2024-01-16 09:00:00"),
        # u2: joins W0, active every week
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-08 00:00:00"),
        (2, "2024-01-15 00:00:00"),
        # u3: joins W1 only
        (3, "2024-01-10 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "uid int, s string").select(
        "uid", F.col("s").cast("timestamp").alias("ts")
    )
    got = {
        (str(r["cohort_ts"]), r["age"]): r["n_users"]
        for r in cohort_retention(df, user="uid", by="week").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): 2,  # u1, u2 new in W0
        ("2024-01-01 00:00:00", 1): 1,  # only u2 back in W1
        ("2024-01-01 00:00:00", 2): 2,  # u1 and u2 in W2
        ("2024-01-08 00:00:00", 0): 1,  # u3 new in W1
    }
    with pytest.raises(ValueError):
        cohort_retention(df, user="uid", by="month")


def test_funnel_stages_hand_cascade(spark):
    from sentometrics_spark.aggregate.timeseries import funnel_stages

    rows = [
        # u1: full funnel inside the window
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),
        (1, "purchase", "2024-01-01 02:00:00"),
        # u2: click BEFORE the first view — cascade must not count it
        (2, "click", "2024-01-01 00:00:00"),
        (2, "view", "2024-01-01 01:00:00"),
        # u3: completes, but purchase falls outside within_seconds
        (3, "view", "2024-01-01 00:00:00"),
        (3, "click", "2024-01-01 00:30:00"),
        (3, "purchase", "2024-01-01 04:00:00"),
        # u4: earliest-anchor trap — a LATER view would convert, the
        # earliest one must be the anchor (documented semantics)
        (4, "view", "2024-01-01 00:00:00"),
        (4, "view", "2024-01-01 03:30:00"),
        (4, "click", "2024-01-01 03:45:00"),
        (4, "purchase", "2024-01-01 06:00:00"),
        # u5: only noise events → not in the output at all
        (5, "scroll", "2024-01-01 00:00:00"),
        # u6: equal timestamps — view and click at the same instant count
        # (SQL >= cascade), purchase missing
        (6, "view", "2024-01-01 00:00:00"),
        (6, "click", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "uid int, event_type string, s string").select(
        F.col("uid").alias("user_id"), "event_type",
        F.col("s").cast("timestamp").alias("ts"),
    )
    out = {
        r["user_id"]: (r["stage"], str(r["first_ts"]), str(r["reached_ts"]))
        for r in funnel_stages(
            df, ["view", "click", "purchase"], within_seconds=3 * 3600.0
        ).collect()
    }
    assert 5 not in out
    assert out[1] == (3, "2024-01-01 00:00:00", "2024-01-01 02:00:00")
    assert out[2] == (1, "2024-01-01 01:00:00", "2024-01-01 01:00:00")
    assert out[3] == (2, "2024-01-01 00:00:00", "2024-01-01 00:30:00")
    # u4: click at 03:45 is > 3h after the 00:00 anchor → stage 1
    assert out[4] == (1, "2024-01-01 00:00:00", "2024-01-01 00:00:00")
    assert out[6] == (2, "2024-01-01 00:00:00", "2024-01-01 00:00:00")

    # no window: every cascade step counts regardless of elapsed time
    unbounded = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    assert unbounded[3] == 3 and unbounded[4] == 3

    with pytest.raises(ValueError):
        funnel_stages(df, ["view"])
    with pytest.raises(ValueError):
        funnel_stages(df, ["view", "view"])


def test_bucket_trend_vs_polyfit(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import bucket_trend

    rng = np.random.RandomState(7)
    n = 400
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.randint(0, 2 * 86400, n)), unit="s"
    )
    pdf = pd.DataFrame(
        {"g": rng.choice(["a", "b"], n), "ts": ts,
         "value": rng.randn(n) + np.linspace(0, 5, n)}
    )
    # degenerate buckets: single row, and two rows at one timestamp
    extra = pd.DataFrame(
        {"g": ["a", "b", "b"],
         "ts": pd.to_datetime(
             ["2024-01-05 00:30:00", "2024-01-05 01:00:10",
              "2024-01-05 01:00:10"]),
         "value": [1.0, 2.0, 4.0]}
    )
    pdf = pd.concat([pdf, extra], ignore_index=True)
    bt = (
        bucket_trend(spark.createDataFrame(pdf), series_keys=["g"], by="hour")
        .toPandas().set_index(["g", "bucket_ts"])
    )
    pdf["b"] = pdf.ts.dt.floor("h")
    pdf["x"] = (pdf.ts - pdf.b).dt.total_seconds()
    for (g, b), sub in pdf.groupby(["g", "b"]):
        row = bt.loc[(g, b)]
        if len(sub) >= 2 and sub.x.var() > 0:
            sl, ic = np.polyfit(sub.x, sub.value, 1)
            assert abs(row.slope_per_sec - sl) < 1e-8
            assert abs(row.intercept - ic) < 1e-8
            y = sub.value.to_numpy()
            sst = ((y - y.mean()) ** 2).sum()
            ssr = ((sl * sub.x + ic - y.mean()) ** 2).sum()
            if sst > 0:
                assert abs(row.r2 - ssr / sst) < 1e-8
        else:
            assert pd.isna(row.slope_per_sec) and pd.isna(row.r2)
        assert row.n_obs == len(sub)


def test_acf_vs_numpy_and_guards(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import acf

    rng = np.random.RandomState(11)
    frames = []
    for g, n in [("long", 300), ("short", 3), ("flat", 20)]:
        v = (
            np.sin(np.arange(n) / 5.0) + rng.randn(n) * 0.3
            if g == "long"
            else (rng.randn(n) if g == "short" else np.full(n, 2.5))
        )
        frames.append(pd.DataFrame({
            "g": g,
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "value": v,
        }))
    pdf = pd.concat(frames, ignore_index=True)
    out = (
        acf(spark.createDataFrame(pdf), 5, series_keys=["g"])
        .toPandas().set_index(["g", "lag"]).sort_index()
    )
    # every series gets every lag row
    assert sorted(out.index) == sorted((g, k) for g in ("flat", "long", "short") for k in range(1, 6))
    for g, n in [("long", 300), ("short", 3)]:
        x = pdf[pdf.g == g].sort_values("ts").value.to_numpy()
        d = x - x.mean()
        ss = (d * d).sum()
        for k in range(1, 6):
            row = out.loc[(g, k)]
            assert row.n_obs == n and row.n_pairs == max(0, n - k)
            if n > k and ss > 0:
                assert abs(row.r - (d[:-k] * d[k:]).sum() / ss) < 1e-10
            else:
                assert pd.isna(row.r)
    # zero variance -> NULL r at every lag
    assert out.loc["flat"].r.isna().all()
    with pytest.raises(ValueError):
        acf(spark.createDataFrame(pdf), 0, series_keys=["g"])
    with pytest.raises(ValueError):
        acf(spark.createDataFrame(pdf), 3)


def test_seasonal_decompose_vs_manual(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import seasonal_decompose

    rng = np.random.RandomState(3)
    for p, n in [(24, 240), (7, 70)]:  # even (2xp MA) and odd (plain MA)
        reg = pd.DataFrame({
            "g": "s",
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
        })
        x = (
            10 + 0.01 * np.arange(n)
            + 2 * np.sin(2 * np.pi * np.arange(n) / p)
            + rng.randn(n) * 0.1
        )
        reg["value"] = x
        sd = (
            seasonal_decompose(spark.createDataFrame(reg), p, series_keys=["g"])
            .toPandas().sort_values("ts").reset_index(drop=True)
        )
        h = p // 2
        tr = np.full(n, np.nan)
        if p % 2 == 0:
            for t in range(h, n - h):
                tr[t] = (x[t - h:t + h].sum() + x[t - h + 1:t + h + 1].sum()) / (2 * p)
        else:
            for t in range(h, n - h):
                tr[t] = x[t - h:t + h + 1].sum() / p
        det = x - tr
        raw = np.array([np.nanmean(det[phi::p]) for phi in range(p)])
        seas = raw - raw.mean()
        seas_full = seas[np.arange(n) % p]
        assert (sd.trend.isna().to_numpy() == np.isnan(tr)).all()
        assert np.nanmax(np.abs(sd.trend.to_numpy() - tr)) < 1e-12
        assert np.nanmax(np.abs(sd.seasonal.to_numpy() - seas_full)) < 1e-12
        assert np.nanmax(np.abs(sd.resid.to_numpy() - (x - tr - seas_full))) < 1e-12
        # seasonal effects sum to ~0 over one period
        assert abs(sd.seasonal.to_numpy()[:p].sum()) < 1e-10
    with pytest.raises(ValueError):
        seasonal_decompose(spark.createDataFrame(reg), 1, series_keys=["g"])
    with pytest.raises(ValueError):
        seasonal_decompose(spark.createDataFrame(reg), 24)


def test_kll_tier_rollup_bounds(spark, sf_dir):
    import numpy as np

    from sentometrics_spark.aggregate.timeseries import (
        kll_quantile_rollup,
        kll_quantile_tier,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tier = kll_quantile_tier(ev, by="hour", k=200)
    day = kll_quantile_rollup(tier, to="day")
    month = kll_quantile_rollup(day, to="month")  # composes
    dpd = day.toPandas()
    exact = (
        ev.groupBy(F.date_trunc("day", "ts").alias("bucket_ts"))
        .agg(F.expr("percentile(value, array(0.5,0.95,0.99))").alias("q"),
             F.count("value").alias("n"))
        .toPandas()
    )
    m = dpd.merge(exact, on="bucket_ts")
    assert len(m) == len(dpd) and (m.n_rows == m.n).all()
    evp = ev.select("ts", "value").toPandas()
    evp["b"] = evp.ts.dt.floor("d")
    worst = 0.0
    for _, r in m.iterrows():
        vals = np.sort(evp[evp.b == r.bucket_ts].value.to_numpy())
        # empirical rank is quantized at 1/n: subtract that granularity so
        # the check measures SKETCH error, not small-bucket discreteness
        for est, q in [(r.p50, 0.5), (r.p95, 0.95), (r.p99, 0.99)]:
            err = abs(np.searchsorted(vals, est) / len(vals) - q)
            worst = max(worst, err - 1.5 / len(vals))
    # two-sided 99% rank error at k=200 is ~1.65/sqrt(200) ~ 1.2%; allow 2x
    assert worst < 0.024, worst
    # month tier: n additive vs raw count
    mp = month.toPandas()
    assert mp.n_rows.sum() == ev.count()
    # estimates are within the raw value range
    assert (mp.p50 >= evp.value.min()).all() and (mp.p99 <= evp.value.max()).all()


def test_bucket_histogram_hand_and_rollup(spark):
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import bucket_histogram

    rows = [
        ("2024-01-01 00:10:00", -5.0),   # underflow
        ("2024-01-01 00:20:00", 0.0),    # exactly lo -> bin 0
        ("2024-01-01 00:30:00", 9.999),  # bin 0
        ("2024-01-01 00:40:00", 10.0),   # boundary -> bin 1
        ("2024-01-01 01:10:00", 99.9),   # bin 9
        ("2024-01-01 01:20:00", 100.0),  # exactly hi -> overflow
        ("2024-01-01 01:30:00", 250.0),  # overflow
        ("2024-01-01 01:40:00", None),   # dropped
        ("2024-01-01 01:50:00", float("nan")),  # overflow by contract
    ]
    df = spark.createDataFrame(rows, "s string, value double").select(
        F.col("s").cast("timestamp").alias("ts"), "value"
    )
    out = bucket_histogram(df, 0.0, 100.0, 10, by="hour").toPandas()
    got = {
        (str(r.bucket_ts), r.bin): r.n for r in out.itertuples()
    }
    assert got == {
        ("2024-01-01 00:00:00", -1): 1,
        ("2024-01-01 00:00:00", 0): 2,
        ("2024-01-01 00:00:00", 1): 1,
        ("2024-01-01 01:00:00", 9): 1,
        ("2024-01-01 01:00:00", 10): 3,
    }
    # bin edges: underflow/-inf, overflow/+inf, interior affine
    e = out.set_index("bin")
    assert e.loc[-1].bin_lo == float("-inf") and e.loc[10].bin_hi == float("inf")
    assert e.loc[1].bin_lo == 10.0 and e.loc[1].bin_hi == 20.0
    # lossless rollup: hour bins sum into day bins
    day = (
        out.groupby([out.bucket_ts.dt.floor("d"), "bin"]).n.sum().to_dict()
    )
    direct = {
        (str(r.bucket_ts), r.bin): r.n
        for r in bucket_histogram(df, 0.0, 100.0, 10, by="day")
        .toPandas().itertuples()
    }
    assert {(str(k[0]), k[1]): v for k, v in day.items()} == direct
    with pytest.raises(ValueError):
        bucket_histogram(df, 0.0, 100.0, 0)
    with pytest.raises(ValueError):
        bucket_histogram(df, 5.0, 5.0, 10)


def test_r6_passes_nan_and_inf_through(spark):
    """The oracle rounding _r6 keeps NaN and +-inf as DuckDB's floor does:
    Spark's floor(DOUBLE) returns BIGINT, which would turn NaN into 0 and
    inf into Long.MaxValue / 1e6."""
    import math

    from sentometrics_spark.entry_queries import _r6

    vals = [float("nan"), float("inf"), float("-inf"), 1.2345675, -0.5, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in df.select(_r6("v")).collect()]
    assert math.isnan(got[0])
    assert got[1:] == [float("inf"), float("-inf"), 1.234568, -0.5, None]


def test_holt_forecast_vs_numpy(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import holt_forecast

    rng = np.random.RandomState(5)
    frames = []
    for g, n in [("up", 60), ("noisy", 45), ("one", 1), ("two", 2)]:
        x = (
            5 + 0.4 * np.arange(n) + rng.randn(n) * 0.2
            if g != "one"
            else np.array([3.0])
        )
        frames.append(pd.DataFrame({
            "g": g, "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "value": x[:n],
        }))
    pdf = pd.concat(frames, ignore_index=True)
    alpha, beta, H = 0.4, 0.2, 6
    out = (
        holt_forecast(spark.createDataFrame(pdf), alpha, beta, H,
                      series_keys=["g"])
        .toPandas().set_index(["g", "h"]).sort_index()
    )
    for g in ("up", "noisy", "one", "two"):
        x = pdf[pdf.g == g].sort_values("ts").value.to_numpy()
        l = x[0]
        b = x[1] - x[0] if len(x) >= 2 else 0.0
        for t in range(1, len(x)):
            lp = l
            l = alpha * x[t] + (1 - alpha) * (lp + b)
            b = beta * (l - lp) + (1 - beta) * b
        for h in range(1, H + 1):
            row = out.loc[(g, h)]
            assert row.yhat == l + h * b
            assert row.level == l and row.trend == b
            assert row.n_obs == len(x)
    # a rising series forecasts above its last level
    assert out.loc[("up", 6)].yhat > out.loc[("up", 1)].yhat
    # cross-check against statsmodels legacy-heuristic Holt if available
    try:
        from statsmodels.tsa.holtwinters import Holt

        x = pdf[pdf.g == "up"].sort_values("ts").value.to_numpy()
        fit = Holt(x, initialization_method="legacy-heuristic").fit(
            smoothing_level=alpha, smoothing_trend=beta, optimized=False
        )
        fc = fit.forecast(H)
        got = out.loc["up"].yhat.to_numpy()
        assert np.max(np.abs(got - fc)) < 1e-8
    except ImportError:
        pass
    with pytest.raises(ValueError):
        holt_forecast(spark.createDataFrame(pdf), 0.0, 0.2, 3, series_keys=["g"])
    with pytest.raises(ValueError):
        holt_forecast(spark.createDataFrame(pdf), 0.4, 0.2, 0, series_keys=["g"])
    with pytest.raises(ValueError):
        holt_forecast(spark.createDataFrame(pdf), 0.4, 0.2, 3)


def test_ccf_vs_numpy_and_symmetry(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import ccf

    rng = np.random.RandomState(9)
    n = 200
    x = rng.randn(n)
    y = np.roll(x, 3) + rng.randn(n) * 0.1  # x leads y by 3 steps
    pdf = pd.DataFrame({
        "g": "s", "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
        "x": x, "y": y,
    })
    out = (
        ccf(spark.createDataFrame(pdf), 5, x="x", y="y", series_keys=["g"])
        .toPandas().set_index("lag").sort_index()
    )
    assert sorted(out.index) == list(range(-5, 6))
    dx, dy = x - x.mean(), y - y.mean()
    den = np.sqrt((dx * dx).sum() * (dy * dy).sum())
    for k in range(-5, 6):
        if k > 0:
            num = (dx[:-k] * dy[k:]).sum()
        elif k < 0:
            num = (dx[-k:] * dy[:k]).sum()
        else:
            num = (dx * dy).sum()
        assert abs(out.loc[k].r - num / den) < 1e-10
        assert out.loc[k].n_pairs == n - abs(k)
    # the planted lead shows up at lag +3
    assert out.r.idxmax() == 3 and out.loc[3].r > 0.9
    # swapping x and y mirrors the lag axis
    sw = (
        ccf(spark.createDataFrame(pdf), 5, x="y", y="x", series_keys=["g"])
        .toPandas().set_index("lag").sort_index()
    )
    for k in range(-5, 6):
        assert abs(sw.loc[k].r - out.loc[-k].r) < 1e-12
    with pytest.raises(ValueError):
        ccf(spark.createDataFrame(pdf), -1, x="x", y="y", series_keys=["g"])
    with pytest.raises(ValueError):
        ccf(spark.createDataFrame(pdf), 3, x="x", y="y")


def test_mad_outliers_vs_numpy_and_plan(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import mad_outliers

    rng = np.random.RandomState(2)
    v = rng.randn(100)
    v[10], v[40] = 50.0, -50.0       # planted spikes mid-bucket
    frames = [pd.DataFrame({
        "g": "s", "ts": pd.date_range("2024-01-01", periods=100, freq="h"),
        "value": v,
    })]
    # zero-MAD bucket: constant values -> NULL z, never flagged
    frames.append(pd.DataFrame({
        "g": "flat", "ts": pd.date_range("2024-01-01", periods=10, freq="h"),
        "value": 7.0,
    }))
    pdf = pd.concat(frames, ignore_index=True)
    out = mad_outliers(
        spark.createDataFrame(pdf), series_keys=["g"], by="day"
    ).toPandas()
    assert sorted(out[out.is_outlier].value.tolist()) == [-50.0, 50.0]
    flat = out[out.g == "flat"]
    assert flat.robust_z.isna().all() and (~flat.is_outlier).all()
    assert (flat.bucket_mad == 0).all() and (flat.bucket_median == 7.0).all()
    # numpy agreement on one bucket
    day0 = pd.Timestamp("2024-01-01")
    x = pdf[(pdf.g == "s") & (pdf.ts.dt.floor("d") == day0)].value.to_numpy()
    med, mad = np.median(x), np.median(np.abs(x - np.median(x)))
    sub = out[(out.g == "s") & (out.bucket_ts == day0)].sort_values("ts")
    assert abs(sub.bucket_median.iloc[0] - med) < 1e-12
    assert abs(sub.bucket_mad.iloc[0] - mad) < 1e-12
    assert abs(
        sub.robust_z.iloc[0] - (x[0] - med) / (1.4826 * mad)
    ) < 1e-12
    assert (sub.n_obs == len(x)).all()
    # plan: one Exchange, no join (both percentile windows share the
    # materialized bucket partitioning)
    p = (
        mad_outliers(spark.createDataFrame(pdf), series_keys=["g"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("Exchange") == 1 and "Join" not in p, p


def test_null_values_dont_skew_trend_acf_ccf(spark):
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import acf, bucket_trend, ccf

    pdf = pd.DataFrame({
        "g": "s",
        "ts": pd.date_range("2024-01-01", periods=8, freq="min"),
        "value": [1.0, None, 3.0, 4.0, None, 6.0, 7.0, 8.0],
    })
    df = spark.createDataFrame(pdf)
    # trend: n_obs counts only the 6 fitted points and the fit equals
    # the fit over the null-free subset
    bt = bucket_trend(df, series_keys=["g"], by="hour").toPandas().iloc[0]
    sub = pdf.dropna()
    import numpy as np

    x = (sub.ts - sub.ts.dt.floor("h")).dt.total_seconds().to_numpy()
    sl, ic = np.polyfit(x, sub.value.to_numpy(), 1)
    assert bt.n_obs == 6
    assert abs(bt.slope_per_sec - sl) < 1e-9 and abs(bt.intercept - ic) < 1e-9
    # acf: n_pairs counts only pairs with BOTH ends present
    a = acf(df, 1, series_keys=["g"]).toPandas().iloc[0]
    # positions with value: 0,2,3,5,6,7 -> lag-1 pairs with both ends:
    # (2,3),(5,6),(6,7) = 3
    assert a.n_pairs == 3
    # ccf at lag 0 on (value, value): pairs = non-null count
    c = ccf(df.withColumn("y2", F.col("value")), 0, x="value", y="y2",
            series_keys=["g"]).toPandas().iloc[0]
    assert c.n_pairs == 6 and abs(c.r - 1.0) < 1e-12


def test_holt_and_mad_null_values(spark):
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import holt_forecast, mad_outliers

    pdf = pd.DataFrame({
        "g": "s",
        "ts": pd.date_range("2024-01-01", periods=6, freq="h"),
        "value": [1.0, None, 3.0, None, 5.0, 7.0],
    })
    df = spark.createDataFrame(pdf)
    out = holt_forecast(df, 0.5, 0.3, 2, series_keys=["g"]).toPandas()
    # NULLs dropped: n_obs = 4 and no NaN leaks into the forecast
    assert (out.n_obs == 4).all() and out.yhat.notna().all()
    # all-null series vanish rather than emitting NaN rows
    nul = pd.DataFrame({
        "g": "n", "ts": pd.date_range("2024-01-01", periods=3, freq="h"),
        "value": [None, None, None],
    })
    both = holt_forecast(
        spark.createDataFrame(pd.concat([pdf, nul])), 0.5, 0.3, 2,
        series_keys=["g"],
    ).toPandas()
    assert set(both.g) == {"s"}
    m = mad_outliers(df, series_keys=["g"], by="day").toPandas()
    assert (m.n_obs == 4).all()


def test_holt_winters_vs_python_replay(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import holt_winters

    rng = np.random.RandomState(11)
    m, H = 6, 9
    frames = []
    for g, n in [("seas", 40), ("short", 11), ("exact2m", 12)]:
        t = np.arange(n)
        x = 10 + 0.3 * t + 4.0 * np.sin(2 * np.pi * t / m) + rng.randn(n) * 0.1
        frames.append(pd.DataFrame({
            "g": g, "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "value": x,
        }))
    # NULL values must be dropped before fit
    frames[0].loc[3, "value"] = None
    pdf = pd.concat(frames, ignore_index=True)
    alpha, beta, gamma = 0.4, 0.2, 0.3
    out = (
        holt_winters(spark.createDataFrame(pdf), alpha, beta, gamma,
                     period=m, horizon=H, series_keys=["g"])
        .toPandas().set_index(["g", "h"]).sort_index()
    )
    # series with n < 2m after NULL drop are dropped entirely
    assert "short" not in out.index.get_level_values(0)
    for g in ("seas", "exact2m"):
        x = (
            pdf[(pdf.g == g) & pdf.value.notna()]
            .sort_values("ts").value.to_numpy()
        )
        n = len(x)
        mean1 = float(np.sum(x[:m])) / m
        mean2 = float(np.sum(x[m:2 * m])) / m
        l, b = mean1, (mean2 - mean1) / m
        s = [x[i] - mean1 for i in range(m)]
        for t in range(m, n):
            so, lp = s[0], l
            l = alpha * (x[t] - so) + (1.0 - alpha) * (lp + b)
            b = beta * (l - lp) + (1.0 - beta) * b
            s = s[1:] + [gamma * (x[t] - l) + (1.0 - gamma) * so]
        for h in range(1, H + 1):
            row = out.loc[(g, h)]
            assert row.yhat == l + h * b + s[(h - 1) % m]
            assert row.level == l and row.trend == b
            assert row.season == s[(h - 1) % m]
            assert row.n_obs == n
    # forecast carries the seasonal cycle: season repeats with period m
    seas = out.loc["seas"].season.to_numpy()
    assert np.array_equal(seas[:H - m], seas[m:])
    # and tracks the planted sinusoid's phase ordering within one cycle
    assert seas.max() > 1.0 and seas.min() < -1.0
    for bad in [(0.0, 0.2, 0.3), (0.4, 1.5, 0.3), (0.4, 0.2, -0.1)]:
        with pytest.raises(ValueError):
            holt_winters(spark.createDataFrame(pdf), *bad, period=m,
                         horizon=H, series_keys=["g"])
    with pytest.raises(ValueError):
        holt_winters(spark.createDataFrame(pdf), 0.4, 0.2, 0.3, period=1,
                     horizon=H, series_keys=["g"])
    with pytest.raises(ValueError):
        holt_winters(spark.createDataFrame(pdf), 0.4, 0.2, 0.3, period=m,
                     horizon=0, series_keys=["g"])
    with pytest.raises(ValueError):
        holt_winters(spark.createDataFrame(pdf), 0.4, 0.2, 0.3, period=m,
                     horizon=H)


def test_burn_rate_vs_pandas_and_plan(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import burn_rate

    rng = np.random.RandomState(7)
    frames = []
    for svc in ("a", "b"):
        n = 50
        good = rng.randint(0, 20, n)
        bad = rng.randint(0, 4, n)
        # planted outage: all-bad burst mid-series
        bad[20:24] += 30
        # zero-traffic leading buckets -> NULL ratios until traffic
        good[:3] = 0
        bad[:3] = 0
        frames.append(pd.DataFrame({
            "svc": svc,
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "good": good, "bad": bad,
        }))
    pdf = pd.concat(frames, ignore_index=True)
    slo, ns, nl, thr = 0.9, 4, 12, 2.0
    sdf = burn_rate(
        spark.createDataFrame(pdf), slo=slo, short_buckets=ns,
        long_buckets=nl, threshold=thr, series_keys=["svc"],
    )
    # capture before execution: the AQE-finalized string prints the
    # shuffle-stage subtree twice (same plan_id), inflating the count
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    out = sdf.toPandas().sort_values(["svc", "ts"]).reset_index(drop=True)
    for svc in ("a", "b"):
        p = pdf[pdf.svc == svc].reset_index(drop=True)
        o = out[out.svc == svc].reset_index(drop=True)
        for w, rcol, bcol in [(ns, "bad_ratio_short", "burn_short"),
                              (nl, "bad_ratio_long", "burn_long")]:
            tot = (p.good + p.bad).rolling(w, min_periods=1).sum()
            badw = p.bad.rolling(w, min_periods=1).sum()
            exp = np.where(tot > 0, badw / tot, np.nan)
            got = o[rcol].to_numpy()
            assert np.allclose(got, exp, equal_nan=True, rtol=0, atol=0)
            assert np.allclose(
                o[bcol].to_numpy(), exp / (1.0 - slo),
                equal_nan=True, rtol=0, atol=0,
            )
        # alert only when BOTH windows burn above threshold; NULL -> False
        exp_alert = (
            (o.burn_short > thr) & (o.burn_long > thr)
        ).fillna(False).to_numpy()
        assert np.array_equal(o.alert.to_numpy(), exp_alert)
        assert o.alert.iloc[20:24].all()       # outage fires
        assert not o.alert.iloc[:3].any()      # zero-traffic never fires
    # scale shape: pure Catalyst -- no join, ONE Exchange (both frames
    # share the window partitioning), no Python UDF
    assert "Join" not in plan and "Python" not in plan
    assert plan.count("Exchange") == 1
    with pytest.raises(ValueError):
        burn_rate(spark.createDataFrame(pdf), slo=1.0, short_buckets=4,
                  long_buckets=12, series_keys=["svc"])
    with pytest.raises(ValueError):
        burn_rate(spark.createDataFrame(pdf), slo=0.9, short_buckets=6,
                  long_buckets=4, series_keys=["svc"])


def test_topk_summary_tier_and_rollup_bounds(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import (
        topk_summary_rollup,
        topk_summary_tier,
    )

    rng = np.random.RandomState(3)
    # 3 days x 24 hours; zipf-ish tail + planted heavy hitters that
    # dominate only SOME hours (so they get dropped elsewhere)
    rows = []
    base = pd.Timestamp("2024-01-01")
    for day in range(3):
        for hour in range(24):
            ts = base + pd.Timedelta(days=day, hours=hour)
            vals = rng.zipf(1.6, 120)
            vals = vals[vals < 50]
            if hour % 3 == 0:
                vals = np.concatenate([vals, np.full(30, 1000 + day)])
            rows.append(pd.DataFrame({"ts": ts, "value": vals}))
    pdf = pd.concat(rows, ignore_index=True)
    pdf["value"] = pdf["value"].astype("int64")
    K = 5
    tier_df = topk_summary_tier(
        spark.createDataFrame(pdf), k=K, value_col="value", by="hour"
    )
    tier_plan = tier_df._jdf.queryExecution().executedPlan().toString()
    tier = tier_df.toPandas()
    # per-bucket invariants vs exact pandas counts
    exact_hour = (
        pdf.assign(b=pdf.ts.dt.floor("h"))
        .groupby(["b", "value"]).size().rename("cnt").reset_index()
    )
    for b, grp in tier.groupby("bucket_ts"):
        ex = exact_hour[exact_hour.b == b].sort_values(
            ["cnt", "value"], ascending=[False, True]
        ).reset_index(drop=True)
        got = grp.sort_values("rank").reset_index(drop=True)
        assert len(got) == min(K, len(ex))
        # kept rows are the exact deterministic top-K
        assert got.value.tolist() == ex.value.iloc[:len(got)].tolist()
        assert got.cnt.tolist() == ex.cnt.iloc[:len(got)].tolist()
        dropped = ex.cnt.iloc[len(got):]
        assert got.other_weight.iloc[0] == int(dropped.sum())
        assert got.other_max.iloc[0] == int(dropped.max()) if len(dropped) else got.other_max.iloc[0] == 0
        assert got.n_rows.iloc[0] == int(ex.cnt.sum())
    # rollup: every reported value's TRUE day count lies in [lb, ub]
    day = topk_summary_rollup(
        spark.createDataFrame(tier), k=K, to="day"
    ).toPandas()
    exact_day = (
        pdf.assign(d=pdf.ts.dt.floor("d"))
        .groupby(["d", "value"]).size().rename("n").reset_index()
    )
    assert len(day) == 3 * K
    for _, r in day.iterrows():
        true_n = int(exact_day[(exact_day.d == r.bucket_ts)
                               & (exact_day.value == r.value)].n.sum())
        assert r.lb <= true_n <= r.ub, (r.value, r.lb, true_n, r.ub)
        # stored in every bucket of the day -> exact
        if r.buckets_present == r.n_buckets:
            assert r.lb == r.ub == true_n
        assert r.no_hidden_beats == (r.lb >= r.missing_ub)
    # the planted heavy hitters (absent from 2/3 of the hours) still make
    # the day's top-K from summaries alone, with an honest ub > lb
    for d_i in range(3):
        dts = base + pd.Timedelta(days=d_i)
        p = day[(day.bucket_ts == dts) & (day.value == 1000 + d_i)]
        assert len(p) == 1 and p.lb.iloc[0] == 8 * 30
        assert p.ub.iloc[0] > p.lb.iloc[0]
        assert p.buckets_present.iloc[0] == 8
        # the ever-present zipf mode is rank 1 with an EXACT count
        top = day[(day.bucket_ts == dts) & (day["rank"] == 1)].iloc[0]
        assert top.value == 1 and top.lb == top.ub
    # determinism: re-run bit-identical
    day2 = topk_summary_rollup(
        spark.createDataFrame(tier), k=K, to="day"
    ).toPandas()
    c = sorted(day.columns)
    assert day[c].sort_values(c).reset_index(drop=True).equals(
        day2[c].sort_values(c).reset_index(drop=True))
    # scale shape: no join anywhere in the tier plan; the rank window
    # and the bucket-stat windows share one Exchange after the count agg
    assert "Join" not in tier_plan and "Python" not in tier_plan
    assert tier_plan.count("Exchange hashpartitioning") == 2
    with pytest.raises(ValueError):
        topk_summary_tier(spark.createDataFrame(pdf), k=0)
    with pytest.raises(ValueError):
        topk_summary_rollup(spark.createDataFrame(tier), k=0)


def test_ewma_and_cusum_null_values(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import (
        cusum_changepoints,
        ewma_time_decay,
    )

    rng = np.random.RandomState(9)
    n = 40
    pdf = pd.DataFrame({
        "k": "s",
        "eid": np.arange(n),
        "ts": pd.date_range("2024-01-01", periods=n, freq="137s"),
        "value": rng.randn(n),
    })
    pdf.loc[[0, 7, 21], "value"] = None   # incl. a NULL series head
    sdf = spark.createDataFrame(pdf)
    # EWMA: NULL rows carry no weight (as if absent) but still emit the
    # smoothed history; a NULL head emits NULL. pandas ewm skips NaNs
    # the same way.
    out = (
        ewma_time_decay(sdf, halflife_seconds=600.0, series_keys=["k"],
                        tiebreak="eid")
        .toPandas().sort_values("eid").ewma.values
    )
    exp = (
        pdf["value"]
        .ewm(halflife=pd.Timedelta(seconds=600),
             times=pd.DatetimeIndex(pdf["ts"]))
        .mean().values
    )
    assert np.isnan(out[0]) and np.isnan(exp[0])
    assert np.allclose(out[1:], exp[1:], rtol=1e-9, atol=1e-12)
    # CUSUM: NULL rows are dropped before fitting (drop-then-fit), so
    # the output equals the run on the pre-filtered frame and the NULL
    # rows are absent from it.
    got = (
        cusum_changepoints(sdf, threshold_sigmas=4.0, series_keys=["k"],
                           tiebreak="eid")
        .toPandas().sort_values("eid").reset_index(drop=True)
    )
    clean = (
        cusum_changepoints(
            spark.createDataFrame(pdf[pdf.value.notna()]),
            threshold_sigmas=4.0, series_keys=["k"], tiebreak="eid")
        .toPandas().sort_values("eid").reset_index(drop=True)
    )
    assert len(got) == n - 3 and got.eid.tolist() == clean.eid.tolist()
    assert (got.cusum_up == clean.cusum_up).all()
    assert (got.cusum_down == clean.cusum_down).all()


def test_twa_ohlc_counter_rate_null_values(spark):
    import numpy as np
    import pandas as pd

    from sentometrics_spark.aggregate.timeseries import (
        counter_rate,
        ohlc,
        time_weighted_avg,
    )

    ts = pd.date_range("2024-01-01", periods=8, freq="10min")
    pdf = pd.DataFrame({
        "k": "s", "eid": range(8), "ts": ts,
        "value": [1.0, None, 3.0, 5.0, None, 4.0, None, 2.0],
    })
    sdf = spark.createDataFrame(pdf)
    clean = spark.createDataFrame(pdf[pdf.value.notna()])
    # all three treat NULL observations as-if-absent: output equals the
    # run on the pre-filtered frame (n_obs counts real observations)
    for op, kw in [
        (time_weighted_avg, dict(series_keys=["k"], by="hour",
                                 tiebreak="eid")),
        (ohlc, dict(series_keys=["k"], by="hour", tiebreak="eid")),
        (counter_rate, dict(series_keys=["k"], by="hour",
                            tiebreak="eid")),
    ]:
        a = op(sdf, **kw).toPandas().sort_values("bucket_ts")
        b = op(clean, **kw).toPandas().sort_values("bucket_ts")
        c = sorted(a.columns)
        pd.testing.assert_frame_equal(
            a[c].reset_index(drop=True), b[c].reset_index(drop=True)
        )
    out = time_weighted_avg(
        sdf, series_keys=["k"], by="hour", tiebreak="eid"
    ).toPandas().sort_values("bucket_ts")
    # non-null obs at minutes 0,20,30,50 (hour 0) and 70 (hour 1): LOCF
    # bridges the nulls — 1 holds 0-20, 3 holds 20-30, 5 holds 30-50,
    # 4 holds 50-60 within hour 0
    assert out.n_obs.tolist() == [4, 1]
    assert out.twa.iloc[0] == (1*20 + 3*10 + 5*20 + 4*10) / 60.0
    got = (
        ohlc(sdf, series_keys=["k"], by="hour", tiebreak="eid")
        .toPandas().sort_values("bucket_ts")
    )
    assert got.open.tolist() == [1.0, 2.0] and got.close.tolist() == [4.0, 2.0]
    assert got.high.tolist() == [5.0, 2.0] and got.low.tolist() == [1.0, 2.0]
    cr = counter_rate(
        sdf, series_keys=["k"], by="hour", tiebreak="eid"
    ).toPandas().sort_values("bucket_ts")
    # deltas bridge nulls: +2 +2 (reset to 4: +4) (reset to 2: +2) = 10
    assert cr.increase.sum() == 10.0 and cr.n_resets.sum() == 2
