"""CSV source with malformed-record repair (SURVEY.md §2.1 S3).

The reference repairs a CSV whose record separators are the literal
two-character sequence ``\\n`` (backslash-n) between quoted fields by
reading the ENTIRE file into one Python string and replacing
``'"\\n"'`` with a real quoted newline (/root/reference/main.py:1002-1017),
then re-parsing with pandas and coercing types
(/root/reference/main.py:1036-1042).

Spark-first redesign — the repair must be DISTRIBUTED (a 100 TB export
cannot round-trip through one driver string):

  1. ``spark.read.text`` splits the file on real newlines (splittable,
     parallel scan);
  2. within each chunk, the literal ``"\\n"`` separators are split with a
     lookaround regex that keeps both quotes (equivalent to the
     reference's replace-then-split composition);
  3. each repaired line is parsed executor-side with ``from_csv``
     against an explicit schema (no inference — SURVEY.md §1.4);
  4. type repairs are declarative: ``to_timestamp`` + drop for dates
     (pandas ``errors='coerce'`` + ``dropna``), ``try_cast`` +
     ``coalesce(0)`` for numerics (``to_numeric`` + ``fillna(0)``).

Every stage is a narrow transformation: the whole repair+parse+coerce
pipeline runs as one scan with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Split on literal backslash-n ONLY between two quote characters,
# keeping the quotes (they delimit the adjacent fields).  Java regex:
# lookbehind/lookahead are supported and constant-width.
_LITERAL_NL_SPLIT = r'(?<=")\\n(?=")'


def repaired_lines(spark: SparkSession, path: str) -> DataFrame:
    """Distributed record repair: one output row per logical CSV line
    after un-escaping literal ``"\\n"`` record separators."""
    raw = spark.read.text(path)
    return raw.select(
        F.explode(F.split(F.col("value"), _LITERAL_NL_SPLIT)).alias("line")
    ).where(F.length(F.trim(F.col("line"))) > 0)


def parse_lines(
    lines: DataFrame, schema: T.StructType, header: str | None = None
) -> DataFrame:
    """Parse repaired lines with ``from_csv`` (PERMISSIVE: unparseable
    fields become NULL, mirroring pandas coercion; fully broken lines
    yield all-NULL structs ≈ ``on_bad_lines='skip'`` after the
    not-null-date filter)."""
    out = lines
    if header is not None:
        out = out.where(F.col("line") != F.lit(header))
    parsed = out.select(
        F.from_csv(
            F.col("line"), schema.simpleString(), {"quote": '"', "escape": '"'}
        ).alias("r")
    )
    return parsed.select("r.*")


def _coerce_timestamp(c: Column) -> Column:
    """pandas ``to_datetime(errors='coerce')`` ≈ try-parse → NULL."""
    return F.try_to_timestamp(c.cast("string"))


def _coerce_numeric_zero(c: Column) -> Column:
    """pandas ``to_numeric(errors='coerce').fillna(0)``."""
    return F.coalesce(c.cast("string").try_cast("double"), F.lit(0.0))


TELEGRAM_POSTS_RAW = T.StructType(
    [
        T.StructField("full_date", T.StringType()),
        T.StructField("channel_username", T.StringType()),
        T.StructField("views", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_repaired_posts_csv(
    spark: SparkSession, path: str, header_line: str | None = None
) -> DataFrame:
    """End-to-end S3: repair → parse → coerce → drop rows with invalid
    dates (reference cleaning pipeline, /root/reference/main.py:1028-1045).

    Column names arrive whitespace-trimmed via the explicit schema; the
    critical-column existence check is the schema itself (a drifted file
    fails loudly instead of silently analyzing garbage).
    """
    if header_line is None:
        header_line = "full_date,channel_username,views,text"
    parsed = parse_lines(repaired_lines(spark, path), TELEGRAM_POSTS_RAW, header_line)
    return (
        parsed.select(
            _coerce_timestamp(F.col("full_date")).alias("full_date"),
            F.col("channel_username"),
            _coerce_numeric_zero(F.col("views")).alias("views"),
            F.col("text"),
        )
        .where(F.col("full_date").isNotNull())
    )

