"""Bucket-label parity with pandas resample ('D'/'W'/'M' conventions the
reference relies on, /root/reference/main.py:812-816), plus zero-fill."""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest

from database_per_keyword_analysis_spark.functions import timeutil as TU


@pytest.fixture(scope="module")
def ts_df(spark):
    rng = random.Random(7)
    base = dt.datetime(2023, 11, 20)
    # sparse: leave gaps of days/weeks so zero-fill is exercised
    stamps = [
        base + dt.timedelta(days=rng.randrange(0, 120) * rng.choice([0, 1, 1]),
                            seconds=rng.randrange(0, 86400))
        for _ in range(200)
    ]
    return (
        spark.createDataFrame([(t,) for t in stamps], "ts timestamp"),
        pd.Series(1, index=pd.DatetimeIndex(stamps)),
    )


@pytest.mark.parametrize("unit,rule", [("day", "D"), ("week", "W"), ("month", "ME")])
def test_bucketed_counts_match_pandas_resample(ts_df, unit, rule):
    sdf, pser = ts_df
    got = {
        (r.bucket.isoformat(), r.n)
        for r in TU.bucketed_counts(sdf, "ts", unit).collect()
    }
    want = {
        (idx.date().isoformat(), int(v))
        for idx, v in pser.resample(rule).count().items()
    }
    assert got == want


def test_zero_fill_contiguous(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),), (dt.datetime(2024, 1, 5),)], "ts timestamp"
    )
    out = TU.bucketed_counts(df, "ts", "day").collect()
    assert [(r.bucket.day, r.n) for r in out] == [
        (1, 1), (2, 0), (3, 0), (4, 0), (5, 1),
    ]


def test_week_label_is_sunday(spark):
    # Mon 2024-01-08 .. Sun 2024-01-14 all label to Sunday 2024-01-14
    days = [dt.datetime(2024, 1, d) for d in range(8, 15)]
    df = spark.createDataFrame([(t,) for t in days], "ts timestamp")
    out = TU.bucketed_counts(df, "ts", "week").collect()
    assert len(out) == 1
    assert out[0].bucket == dt.date(2024, 1, 14)
    assert out[0].n == 7


@pytest.mark.parametrize("unit", TU.UNITS)
def test_null_timestamps_are_dropped(spark, unit):
    """A NULL timestamp has no bucket: the row is dropped, not counted
    and not an error (a map keyed by bucket cannot hold a NULL key)."""
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),), (None,), (dt.datetime(2024, 1, 3),), (None,)],
        "ts timestamp",
    )
    out = TU.bucketed_counts(df, "ts", unit).collect()
    assert sum(r.n for r in out) == 2
    assert all(r.bucket is not None for r in out)


@pytest.mark.parametrize("rows", [[], [(None,), (None,)]], ids=["empty", "all_null"])
def test_no_timestamps_give_no_rows(spark, rows):
    df = spark.createDataFrame(rows, "ts timestamp")
    for unit in TU.UNITS:
        assert TU.bucketed_counts(df, "ts", unit).collect() == []


def test_single_bucket_gives_one_row(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 2, 10, h),) for h in (1, 5, 23)], "ts timestamp"
    )
    for unit, label in [
        ("day", dt.date(2024, 2, 10)),
        ("week", dt.date(2024, 2, 11)),
        ("month", dt.date(2024, 2, 29)),
    ]:
        out = TU.bucketed_counts(df, "ts", unit).collect()
        assert [(r.bucket, r.n) for r in out] == [(label, 3)]
