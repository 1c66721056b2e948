"""Tests for the relational timeseries ops: as-of join, LOCF/linear
interpolation, LTOB/LTTB downsampling, robust-z anomalies.

As-of is pinned against ``pandas.merge_asof`` (independent oracle);
LTTB against a naive pure-Python transliteration of Steinarsson 2013.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from hastl_spark.operators.anomaly import robust_zscore_anomalies
from hastl_spark.operators.asof import asof_join
from hastl_spark.operators.downsample import _lttb_series, ltob, lttb
from hastl_spark.operators.interpolate import linear_interpolate, locf

EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds):
    return EPOCH + dt.timedelta(seconds=int(seconds))


def _mk_asof_frames(spark, seed=7, n_left=400, n_right=60, n_keys=3):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "key": [f"k{int(i)}" for i in rng.integers(0, n_keys, n_left)],
        "ts": [_ts(s) for s in rng.choice(10**5, n_left, replace=False)],
        "ev": np.arange(n_left, dtype=np.int64),
    })
    right = pd.DataFrame({
        "key": [f"k{int(i)}" for i in rng.integers(0, n_keys, n_right)],
        "rt": [_ts(s) for s in rng.choice(10**5, n_right, replace=False)],
        "payload": rng.integers(0, 1000, n_right).astype(np.int64),
    })
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_pandas(spark, direction):
    left, right = _mk_asof_frames(spark)
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by="key", left_on="ts", right_on="rt", direction=direction,
        )
        .toPandas().sort_values("ev").reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rt"),
        left_on="ts", right_on="rt", by="key", direction=direction,
    ).sort_values("ev").reset_index(drop=True)
    assert list(got["payload"].fillna(-1)) == list(exp["payload"].fillna(-1))
    assert list(pd.to_datetime(got["matched_rt"]).fillna(pd.Timestamp(0))) == list(
        pd.to_datetime(exp["rt"]).fillna(pd.Timestamp(0))
    )


def test_asof_join_tolerance_and_ties(spark):
    left, right = _mk_asof_frames(spark, seed=11)
    # Plant an exact-tie row: inclusive backward must match it.
    left.loc[0, ["key", "ts"]] = ["k0", right.loc[0, "rt"]]
    left.loc[0, "key"] = right.loc[0, "key"]
    tol = 5000
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by="key", left_on="ts", right_on="rt", tolerance_seconds=tol,
        )
        .toPandas().sort_values("ev").reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rt"),
        left_on="ts", right_on="rt", by="key",
        tolerance=pd.Timedelta(seconds=tol),
    ).sort_values("ev").reset_index(drop=True)
    assert list(got["payload"].fillna(-1)) == list(exp["payload"].fillna(-1))
    tie = got[got["ev"] == 0].iloc[0]
    assert tie["matched_rt"] == right.loc[0, "rt"]


def _grid_df(spark):
    rows = [
        ("a", _ts(0), 10.0), ("a", _ts(60), None), ("a", _ts(120), None),
        ("a", _ts(180), 40.0), ("a", _ts(240), None),
        ("b", _ts(0), None), ("b", _ts(60), 5.0), ("b", _ts(120), None),
    ]
    return spark.createDataFrame(rows, "key string, bucket timestamp, v double")


def test_locf(spark):
    out = locf(_grid_df(spark), ["v"], key_col="key").toPandas()
    out = out.sort_values(["key", "bucket"]).reset_index(drop=True)
    assert list(out["v"].fillna(-1)) == [10.0, 10.0, 10.0, 40.0, 40.0, -1, 5.0, 5.0]


def test_linear_interpolate(spark):
    out = linear_interpolate(_grid_df(spark), ["v"], key_col="key").toPandas()
    out = out.sort_values(["key", "bucket"]).reset_index(drop=True)
    a = list(out["v"][:5])
    assert a[0] == 10.0 and a[3] == 40.0
    assert a[1] == 20.0 and a[2] == 30.0  # interior gap: exact thirds
    assert a[4] is None or np.isnan(a[4])  # trailing stays null
    b = list(out["v"][5:])
    assert (b[0] is None or np.isnan(b[0])) and b[1] == 5.0


def _series_df(spark, n=500, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for key in ("a", "b"):
        vals = rng.integers(0, 100, n)
        rows += [(key, _ts(i * 3600), int(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "key string, bucket timestamp, cnt long")


def test_ltob_shape_and_endpoints(spark):
    df = _series_df(spark)
    out = ltob(df, 40, key_col="key").toPandas().sort_values(["key", "bucket"])
    for key, grp in out.groupby("key"):
        assert len(grp) == 40
        assert grp["bucket"].iloc[0] == _ts(0)
        assert grp["bucket"].iloc[-1] == _ts(499 * 3600)
    # Determinism: run twice, identical selection.
    out2 = ltob(df, 40, key_col="key").toPandas().sort_values(["key", "bucket"])
    assert list(out["bucket"]) == list(out2["bucket"])


def _naive_lttb(x, y, n_out):
    """Independent transliteration of Steinarsson 2013, pure Python."""
    n = len(x)
    if n_out >= n:
        return list(range(n))
    every = (n - 2) / (n_out - 2)
    sel = [0]
    a = 0
    for i in range(n_out - 2):
        lo = int(np.floor(i * every)) + 1
        hi = int(np.floor((i + 1) * every)) + 1
        nlo = hi
        nhi = min(int(np.floor((i + 2) * every)) + 1, n) if i + 1 < n_out - 2 else n
        cx = sum(x[nlo:nhi]) / (nhi - nlo)
        cy = sum(y[nlo:nhi]) / (nhi - nlo)
        best, best_area = lo, -1.0
        for j in range(lo, hi):
            # Shoelace form — algebraically independent of the kernel's
            # cross-product form.
            area = abs(x[a] * (y[j] - cy) + x[j] * (cy - y[a]) + cx * (y[a] - y[j])) / 2
            if area > best_area:
                best, best_area = j, area
        sel.append(best)
        a = best
    sel.append(n - 1)
    return sel


def test_lttb_kernel_vs_naive():
    rng = np.random.default_rng(5)
    for n, n_out in [(100, 10), (503, 37), (50, 50), (10, 3)]:
        x = np.cumsum(rng.integers(1, 5, n)).astype(np.float64)
        y = rng.normal(size=n)
        got = list(_lttb_series(x, y, n_out))
        exp = _naive_lttb(list(x), list(y), n_out)
        assert got == exp, (n, n_out)


def test_lttb_spark_matches_kernel(spark):
    df = _series_df(spark, n=300)
    out = lttb(df, 25, key_col="key").toPandas().sort_values(["key", "bucket"])
    pdf = df.toPandas().sort_values(["key", "bucket"])
    for key, grp in pdf.groupby("key"):
        xs = grp["bucket"].astype("int64").to_numpy().astype(np.float64)
        ys = grp["cnt"].to_numpy().astype(np.float64)
        keep = grp.iloc[_lttb_series(xs, ys, 25)]
        got = out[out["key"] == key]
        assert list(got["bucket"]) == list(keep["bucket"])


def test_robust_zscore_flags_planted_outlier(spark):
    rows = [("a", _ts(i * 3600), 50 + (i % 3)) for i in range(100)]
    rows[40] = ("a", _ts(40 * 3600), 500)  # planted spike
    rows += [("b", _ts(i * 3600), 7) for i in range(50)]  # constant: MAD=0
    df = spark.createDataFrame(rows, "key string, bucket timestamp, cnt long")
    out = robust_zscore_anomalies(df, value_col="cnt", key_col="key").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["bucket"] == _ts(40 * 3600) and out.iloc[0]["key"] == "a"


def test_asof_join_empty_right(spark):
    left, right = _mk_asof_frames(spark, n_left=50)
    empty = spark.createDataFrame([], "key string, rt timestamp, payload long")
    out = asof_join(
        spark.createDataFrame(left), empty,
        by="key", left_on="ts", right_on="rt",
    ).toPandas()
    assert len(out) == 50 and out["payload"].isna().all()
    assert out["matched_rt"].isna().all()


def test_asof_join_forward_with_tolerance(spark):
    left, right = _mk_asof_frames(spark, seed=23)
    tol = 2000
    got = (
        asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by="key", left_on="ts", right_on="rt",
            direction="forward", tolerance_seconds=tol,
        )
        .toPandas().sort_values("ev").reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rt"),
        left_on="ts", right_on="rt", by="key", direction="forward",
        tolerance=pd.Timedelta(seconds=tol),
    ).sort_values("ev").reset_index(drop=True)
    assert list(got["payload"].fillna(-1)) == list(exp["payload"].fillna(-1))


def test_asof_join_rejects_collisions_and_bad_direction(spark):
    left, right = _mk_asof_frames(spark)
    ldf = spark.createDataFrame(left.rename(columns={"ev": "payload"}))
    rdf = spark.createDataFrame(right)
    with pytest.raises(ValueError, match="collide"):
        asof_join(ldf, rdf, by="key", left_on="ts", right_on="rt")
    with pytest.raises(ValueError, match="direction"):
        asof_join(spark.createDataFrame(left), rdf, by="key",
                  left_on="ts", right_on="rt", direction="nearest")


def test_linear_interpolate_short_series(spark):
    rows = [("a", _ts(0), None), ("b", _ts(0), 3.0), ("b", _ts(60), None)]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, v double")
    out = (linear_interpolate(df, ["v"], key_col="key")
           .toPandas().sort_values(["key", "bucket"]).reset_index(drop=True))
    assert np.isnan(out["v"][0])          # singleton null stays null
    assert out["v"][1] == 3.0 and np.isnan(out["v"][2])  # no right bracket


def test_ltob_short_series_keeps_everything(spark):
    rows = [("a", _ts(i * 3600), i + 1) for i in range(5)]
    df = spark.createDataFrame(rows, "key string, bucket timestamp, cnt long")
    out = ltob(df, 48, key_col="key").toPandas()
    assert len(out) == 5  # n < n_out: every point lands in its own slot


def test_time_weighted_avg_matches_manual(spark):
    """LOCF time-weight vs a hand-computed pandas oracle, incl. an
    equal-timestamp tie (pinned by the tiebreak column) and a dropped
    single-sample group."""
    from hastl_spark.operators.timeweight import time_weighted_avg

    rows = [
        ("a", _ts(0), 10.0, 1), ("a", _ts(100), 20.0, 2),
        ("a", _ts(100), 99.0, 3),  # tie: row 2 holds for 0s, row 3 for 200s
        ("a", _ts(300), 0.0, 4),
        ("b", _ts(50), 7.0, 5),  # single sample: dropped
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double, i long")
    out = time_weighted_avg(df, key_cols=["key"], ts_col="ts",
                            value_col="v", tiebreak_col="i").toPandas()
    assert len(out) == 1
    # manual: 10*100 + 20*0 + 99*200 + 0*0 over span 300
    exp = round((10.0 * 100 + 99.0 * 200) / 300, 4)
    assert out.iloc[0]["key"] == "a" and out.iloc[0]["twa"] == exp
    assert out.iloc[0]["span_s"] == 300.0


def test_asof_tolerance_subsecond_matches_pandas(spark):
    """Microsecond timestamps near the tolerance boundary: asof_join and
    pandas must keep/null the same rows (unix_timestamp truncation
    regression)."""
    left = pd.DataFrame({
        "key": ["a", "a", "a"],
        # distances to rt=10.0s: exactly 4.0s, 4.9s, 3.999999s
        "ts": [_ts(14), _ts(14) + dt.timedelta(microseconds=900_000),
               _ts(14) - dt.timedelta(microseconds=1)],
        "ev": np.array([0, 1, 2], dtype=np.int64),
    })
    right = pd.DataFrame({"key": ["a"], "rt": [_ts(10)],
                          "payload": np.array([7], dtype=np.int64)})
    out = asof_join(spark.createDataFrame(left), spark.createDataFrame(right),
                    by="key", left_on="ts", right_on="rt",
                    tolerance_seconds=4)
    exp = pd.merge_asof(left.sort_values("ts"), right.sort_values("rt"),
                        left_on="ts", right_on="rt", by="key",
                        tolerance=pd.Timedelta(seconds=4))
    exp = exp.sort_values("ev")["payload"].fillna(-1).tolist()
    assert exp == [7.0, -1, 7.0]  # 4.0s kept (inclusive), 4.9s nulled
    got = out.toPandas().sort_values("ev")["payload"].fillna(-1).tolist()
    assert got == exp


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_null_and_missing_keys_match_pandas(spark, direction):
    """A NULL by-key matches right rows with a NULL key (as in pandas;
    DuckDB's ASOF LEFT JOIN leaves it unmatched), and a key absent from
    the right side comes back unmatched."""
    left = pd.DataFrame({
        "key": [None, "a", None, "b", "a"],
        "ts": [_ts(20), _ts(15), _ts(40), _ts(30), _ts(50)],
        "ev": np.arange(5, dtype=np.int64),
    })
    right = pd.DataFrame({
        "key": ["a", None, "a", None],
        "rt": [_ts(10), _ts(5), _ts(45), _ts(60)],
        "payload": np.array([1, 2, 3, 4], dtype=np.int64),
    })
    ldf = spark.createDataFrame(left, "key string, ts timestamp, ev long")
    rdf = spark.createDataFrame(right, "key string, rt timestamp, payload long")
    got = (asof_join(ldf, rdf, by="key", left_on="ts", right_on="rt",
                     direction=direction)
           .toPandas().sort_values("ev").reset_index(drop=True))
    exp = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rt"),
        left_on="ts", right_on="rt", by="key", direction=direction,
    ).sort_values("ev").reset_index(drop=True)
    assert list(got["payload"].fillna(-1)) == list(exp["payload"].fillna(-1))
    pd.testing.assert_series_equal(got["matched_rt"], exp["rt"],
                                   check_names=False, check_dtype=False)
    null_rows = exp[exp["key"].isna()]["payload"].tolist()
    assert null_rows == ([2, 2] if direction == "backward" else [4, 4])
