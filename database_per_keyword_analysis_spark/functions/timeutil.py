"""Time-bucketing with the reference's (pandas) conventions, encoded once
(SURVEY.md §7.4 "hard parts").

The reference buckets with ``df.resample('D'/'W'/'M', on='full_date')``
(/root/reference/main.py:812-816):
  * 'D'  — calendar day, labeled by the day;
  * 'W'  — weeks ENDING Sunday, labeled by that Sunday;
  * 'M'  — calendar month, labeled by the month's LAST day;
  * empty buckets are implicitly present with count 0 (contiguous spine).

Spark realization: a label expression per unit and a plain groupBy with
map-side partial combine (no skew risk since time is dense).  One global
aggregate then gathers the counts into a bucket → n map, one entry per
non-empty bucket (≤ a few thousand for decades of days), with their
first and last bucket.  The date spine (sequence + explode) is generated
from that one row and looks each bucket up in the map, so gaps appear as
zero.  The input is scanned once, and the spine lives in one partition,
so the final sort is local (no range-partition sort job).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNITS = ("day", "week", "month")


def bucket_label(ts_col: str | Column, unit: str) -> Column:
    """Pandas-convention bucket label (DateType) for a timestamp column."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    d = F.to_date(c)
    if unit == "day":
        return d
    if unit == "week":
        # week ending Sunday, labeled by the Sunday (pandas 'W' = 'W-SUN').
        # dayofweek: 1=Sunday..7=Saturday → Sunday itself gets offset 0.
        return F.date_add(d, (F.lit(8) - F.dayofweek(d)) % 7)
    if unit == "month":
        return F.last_day(d)  # pandas 'M' labels by month end
    raise ValueError(f"unit must be one of {UNITS}, got {unit!r}")


def bucketed_counts(df: DataFrame, ts_col: str, unit: str) -> DataFrame:
    """Counts per day/week/month bucket with zero-filled gaps (A7/W2;
    main.py:812-816).  Returns (bucket DATE, n BIGINT) ordered by bucket.
    Rows with a NULL timestamp are dropped; an input with no timestamp
    gives no rows."""
    counts = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(bucket_label(ts_col, unit).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if unit == "day":
        seq = F.sequence("lo", "hi", F.expr("interval 1 day"))
    elif unit == "week":
        seq = F.sequence("lo", "hi", F.expr("interval 7 days"))
    else:  # month: step over month starts, then snap to month end
        seq = F.expr(
            "transform(sequence(trunc(lo, 'MM'), trunc(hi, 'MM'), "
            "interval 1 month), x -> last_day(x))"
        )
    return (
        counts.agg(
            F.map_from_entries(F.collect_list(F.struct("bucket", "n"))).alias("m"),
            F.min("bucket").alias("lo"),
            F.max("bucket").alias("hi"),
        )
        .select("m", F.explode(seq).alias("bucket"))
        .select("bucket", F.coalesce(F.col("m")[F.col("bucket")], F.lit(0)).alias("n"))
        .orderBy("bucket")
    )
