"""Keyword classification operators — the reference's core pipeline.

Reference behavior (all pandas, /root/reference/main.py):
  * coarse relevance filter: ONE alternation regex over all keywords of all
    industries keeps any row matching any keyword (main.py:231-237, 283-288);
  * per-industry multi-label flags `is_<Industry>` via per-industry
    alternation regex (main.py:309-329);
  * channel blacklist anti-filter, case-insensitive NOT IN (main.py:350-352);
  * context-noise anti-filter, substring alternation (main.py:207-208, 354-358);
  * per-keyword hit counts on the cleaned industry slice (main.py:369-381).

Spark realization: everything is built-in column expressions (`rlike`,
`contains`, `lower`, boolean algebra), so each report piece is one lazy
Catalyst plan.  :func:`classified` is the one place the cleaned,
flagged slice is built; every report piece (industry counts, keyword
breakdown, stats report, word frequencies, the debug query and the
catalog's slice queries) starts from it.  Filters and projections push
into the parquet scan and all flags evaluate in one whole-stage-codegen
pass.  The per-keyword breakdown joins that slice to the broadcast
keyword dimension on `contains` and counts per (industry, keyword).

Scale notes (100 TB): the regex pass over `text` is O(rows); the only
shuffles are the final aggregations, whose inputs are partial counts
(industries, or industry × keyword pairs), never raw text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import KeywordConfig


def flag_col(industry: str) -> str:
    """Name of the derived multi-label flag (reference: `is_<Industry>`)."""
    return f"is_{industry}"


def coarse_keyword_filter(
    df: DataFrame, cfg: KeywordConfig, text_col: str = "text"
) -> DataFrame:
    """First-pass relevance filter (F4): keep rows whose text contains ANY
    configured keyword.  NULL text never matches (`na=False` parity)."""
    return df.where(F.col(text_col).isNotNull() & F.col(text_col).rlike(cfg.full_pattern))


def categorize(df: DataFrame, cfg: KeywordConfig, text_col: str = "text") -> DataFrame:
    """Add one boolean `is_<industry>` column per industry (F5, multi-label).

    All flags evaluate in the same codegen stage — one pass over text.
    """
    flags = [
        F.coalesce(F.col(text_col).rlike(cfg.industry_pattern(i)), F.lit(False)).alias(
            flag_col(i)
        )
        for i in cfg.industries
    ]
    return df.select("*", *flags)


def apply_channel_blacklist(
    df: DataFrame, cfg: KeywordConfig, channel_col: str
) -> DataFrame:
    """Case-insensitive NOT IN over the channel blacklist (F6/J3).

    A literal `isin` beats an anti-join for a config-sized list; at scale a
    huge blacklist would become `broadcast` + `left_anti`.
    """
    if not cfg.channel_blacklist:
        return df
    lowered = [c.lower() for c in cfg.channel_blacklist]
    return df.where(~F.lower(F.col(channel_col)).isin(lowered))


def apply_noise_filter(df: DataFrame, cfg: KeywordConfig, text_col: str = "text") -> DataFrame:
    """Context-noise anti-filter (F7): drop rows containing any noise term."""
    if not cfg.noise_terms:
        return df
    return df.where(~F.coalesce(F.col(text_col).rlike(cfg.noise_pattern), F.lit(False)))


def clean(
    df: DataFrame, cfg: KeywordConfig, text_col: str = "text", channel_col: str | None = None
) -> DataFrame:
    """Blacklist + noise anti-filters, the reference's standard cleanup pair
    applied before every report (main.py:347-358 et al.)."""
    out = apply_noise_filter(df, cfg, text_col)
    if channel_col is not None:
        out = apply_channel_blacklist(out, cfg, channel_col)
    return out


def classified(
    df: DataFrame, cfg: KeywordConfig, text_col: str = "text", channel_col: str | None = None
) -> DataFrame:
    """The cleaned, classified slice every keyword-report piece starts
    from: non-NULL text → noise/blacklist clean → `is_<industry>` flags
    (main.py:309-358).  NULL text never matches a keyword (`na=False`
    parity), so the IsNotNull check pushes into the scan.

    Rows matching no keyword stay, with every flag False; each consumer
    slices on a flag, explodes :func:`industry_labels` or matches a
    keyword, and drops them there.  The reference's coarse pre-filter
    (:func:`coarse_keyword_filter`) is deliberately not applied: its
    one alternation over all keywords costs more per row than the
    per-industry regexes it would spare (measured on the keyword
    report, it doubled the stats report's task time).
    """
    present = df.where(F.col(text_col).isNotNull())
    return categorize(clean(present, cfg, text_col, channel_col), cfg, text_col)


def industry_labels(cfg: KeywordConfig) -> Column:
    """Array of the industries whose flag is set on a classified row —
    the multi-label membership as one value to explode (main.py:320-324)."""
    return F.array_compact(
        F.array(*[F.when(F.col(flag_col(i)), F.lit(i)) for i in cfg.industries])
    )


def industry_counts(
    df: DataFrame, cfg: KeywordConfig, text_col: str = "text", channel_col: str | None = None
) -> DataFrame:
    """Posts per industry after cleaning — `stats_report[i]['count']`
    (main.py:426) for all industries in ONE aggregation pass.

    Returns (industry STRING, post_count BIGINT), ordered by industry.
    """
    aggs = [
        F.sum(F.col(flag_col(i)).cast("long")).alias(i) for i in cfg.industries
    ]
    wide = classified(df, cfg, text_col, channel_col).agg(*aggs)
    stack_expr = ", ".join(f"'{i}', `{i}`" for i in cfg.industries)
    return (
        wide.selectExpr(
            f"stack({len(cfg.industries)}, {stack_expr}) AS (industry, post_count)"
        )
        .select("industry", F.coalesce("post_count", F.lit(0)).alias("post_count"))
        .orderBy("industry")
    )


def keyword_dim(spark, cfg: KeywordConfig) -> DataFrame:
    """The keyword dimension as a (industry, keyword) DataFrame — the
    reference's INDUSTRY_KEYWORDS dict (main.py:45-74) as data."""
    rows = [(i, k) for i, kws in cfg.industry_keywords.items() for k in kws]
    return spark.createDataFrame(rows, ["industry", "keyword"])


def keyword_breakdown(
    df: DataFrame, cfg: KeywordConfig, text_col: str = "text", channel_col: str | None = None
) -> DataFrame:
    """Per-keyword hit counts per industry on the cleaned slice (A4,
    main.py:369-381), zero-count keywords dropped, sorted desc (ties broken
    by keyword for determinism — SURVEY.md §7.4).

    Posts ⋈ keywords on `contains(text, keyword)` as a broadcast
    nested-loop join, then one count per (industry, keyword): the
    reference's loop is logically `CROSS JOIN ... WHERE instr > 0`
    (main.py:231-237, 371-378).  A hit on an industry's keyword implies
    that industry's flag, so the join needs only the text column.  The
    plan's size stays fixed as the keyword list grows; the broadcast dim
    is O(|keywords|) per executor.
    """
    kw = keyword_dim(df.sparkSession, cfg)
    return (
        classified(df, cfg, text_col, channel_col)
        .select(text_col)
        .crossJoin(F.broadcast(kw))
        .where(F.col(text_col).contains(F.col("keyword")))
        .groupBy("industry", "keyword")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # at most |keywords| rows: sort them in one task rather than
        # range-partition them (a sampling job plus a shuffle)
        .coalesce(1)
        .orderBy(F.col("industry"), F.desc("cnt"), F.col("keyword"))
    )


def debug_keyword_posts(
    df: DataFrame,
    cfg: KeywordConfig,
    industry: str,
    keyword: str,
    text_col: str = "text",
    channel_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The reference's only parameterized query API (entry point 3,
    main.py:956-990): posts of one industry containing one keyword,
    after blacklist+noise filters, projected for manual audit.

    Predicate composition: is_<industry> ∧ contains(text, keyword) ∧
    ¬blacklisted ∧ ¬noise — all pushed into one scan.
    """
    from ..functions.text import snippet

    return (
        classified(df, cfg, text_col, channel_col)
        .where(F.col(flag_col(industry)) & F.col(text_col).contains(keyword))
        .select(
            F.col(id_col),
            F.col(channel_col).alias("channel"),
            snippet(text_col).alias("snippet"),
        )
        .orderBy(id_col)
    )
