"""JDBC source with partitioned, pushed-down scans (SURVEY.md §2.1 S1/S2/S7).

The reference fetches from MySQL one month per round-trip "to manage
memory" (/root/reference/main.py:240-299) with projection + range +
not-null pushdown in the SQL text (main.py:269-274), connecting via a
SQLAlchemy engine built from env config (main.py:113-124).

Spark-first: month-batching as a MEMORY tactic is obsolete — the same
date windows become JDBC partition predicates, so all months scan IN
PARALLEL (one executor task per window) and each task streams rows via
fetchsize instead of materializing a month in the driver.  Projection /
predicates are pushed by Catalyst through the dbtable subquery.

Tests read through `read_partitioned` from an in-memory embedded Derby
table (Derby ships in pyspark's jars) as the local JDBC source: one
partition per month, rows in range, NULL text dropped by the pushed
subquery.  Pipeline tests substitute a parquet-backed DataFrame for
the reader output.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from pyspark.sql import DataFrame, SparkSession


def month_starts(start: date, end: date) -> list[date]:
    """First-of-month boundaries covering [start, end) — the reference's
    fetch-window ladder (main.py:259-263) as data."""
    out = [start]
    cur = date(start.year, start.month, 1)
    while True:
        cur = (
            date(cur.year + 1, 1, 1)
            if cur.month == 12
            else date(cur.year, cur.month + 1, 1)
        )
        if cur >= end:
            break
        out.append(cur)
    return out


def month_predicates(start: date, end: date, date_col: str = "full_date") -> list[str]:
    """One half-open range predicate per calendar month; passed to
    ``jdbc(predicates=...)`` they become one partition each."""
    bounds = month_starts(start, end) + [end]
    return [
        f"{date_col} >= '{a.isoformat()}' AND {date_col} < '{b.isoformat()}'"
        for a, b in zip(bounds, bounds[1:])
    ]


@dataclass(frozen=True)
class JdbcScan:
    """Declarative JDBC scan spec (S1+S7): projection, pushed filter,
    partitioning, fetch tuning."""

    url: str  # jdbc:mysql://host:port/db
    table: str
    columns: tuple[str, ...]
    where: str | None = None
    fetchsize: int = 10_000

    @property
    def dbtable(self) -> str:
        """Pushdown subquery: projection + static predicate evaluated
        DB-side (≈ the reference's hand-written SELECT, main.py:269-274)."""
        proj = ", ".join(self.columns)
        w = f" WHERE {self.where}" if self.where else ""
        return f"(SELECT {proj} FROM {self.table}{w}) AS pushed"

    def options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "dbtable": self.dbtable,
            "fetchsize": str(self.fetchsize),
            "pushDownPredicate": "true",
        }


def telegram_posts_scan(url: str) -> JdbcScan:
    """The reference's exact scan shape (main.py:269-274): 4-column
    projection, text IS NOT NULL pushed down."""
    return JdbcScan(
        url=url,
        table="telegram_channel_post",
        columns=("text", "full_date", "channel_username", "views"),
        where="text IS NOT NULL",
    )


def read_partitioned(
    spark: SparkSession,
    scan: JdbcScan,
    start: date,
    end: date,
    date_col: str = "full_date",
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Parallel month-partitioned read: each predicate is one Spark
    partition; no driver-side union loop (the reference's
    ``pd.concat`` over batches, main.py:301-303, disappears)."""
    return spark.read.jdbc(
        url=scan.url,
        table=scan.dbtable,
        predicates=month_predicates(start, end, date_col),
        properties={"fetchsize": str(scan.fetchsize), **(properties or {})},
    )
