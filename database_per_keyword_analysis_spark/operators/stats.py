"""Stats-report operators: top-k posts, top-k channels, top-k per group.

Reference (/root/reference/main.py:385-437, 894-923):
  * per industry: `count`, `nlargest(20,'views')` top posts,
    `groupby(channel)['views'].sum().nlargest(15)` top channels;
  * channel audit: per top channel, its 3 most-viewed posts
    (loop + `nlargest(3)`, main.py:903-910).

Spark realization: `TakeOrderedAndProject` for global top-k (orderBy +
limit — no full sort at scale), `row_number()` window for top-k per
group.  Every top-k adds a deterministic tie-breaker (SURVEY.md §2.6 ⚠):
pandas breaks ties by first-seen order, which has no Spark equivalent, so
we define ties broken by ascending id/name and mirror that in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_by(df: DataFrame, order_col: str, k: int, tiebreak: str) -> DataFrame:
    """Global top-k rows by `order_col` desc (T1), ties by `tiebreak` asc.

    Compiles to TakeOrderedAndProject: each partition keeps a k-row heap,
    the driver merges — no global sort, safe at any scale for small k.
    """
    return df.orderBy(F.desc(order_col), F.asc(tiebreak)).limit(k)


def top_channels_by_views(
    df: DataFrame, channel_col: str, views_col: str, k: int = 15
) -> DataFrame:
    """Σ views per channel, top-k (A1+T2; main.py:428).

    Returns (channel, total_views).  Partial aggregation happens map-side;
    only ~|channels| rows shuffle.
    """
    return (
        df.groupBy(F.col(channel_col).alias("channel"))
        .agg(F.sum(views_col).alias("total_views"))
        .orderBy(F.desc("total_views"), F.asc("channel"))
        .limit(k)
    )


def top_channels_by_count(df: DataFrame, channel_col: str, k: int = 15) -> DataFrame:
    """Post count per channel, top-k (A2+T2; main.py:877 value_counts)."""
    return (
        df.groupBy(F.col(channel_col).alias("channel"))
        .agg(F.count(F.lit(1)).alias("post_count"))
        .orderBy(F.desc("post_count"), F.asc("channel"))
        .limit(k)
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    tiebreak: str,
) -> DataFrame:
    """Top-k rows per group via row_number window (W1; main.py:903-910's
    loop + nlargest(3), de-looped).  Adds column `rn` (1-based rank)."""
    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(tiebreak))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def channel_audit(
    df: DataFrame,
    channel_col: str,
    views_col: str,
    id_col: str,
    top_channels: int = 15,
    posts_per_channel: int = 3,
) -> DataFrame:
    """Channel-audit: for each of the top-N channels by total views, its
    top-M posts by views (main.py:894-923).  Semi-join against the computed
    top-channel list (J2) then per-group top-k (W1).

    The top-channel list is tiny (N rows) → broadcast semi-join, no shuffle
    of the fact side beyond the window partitioning.
    """
    top = top_channels_by_views(df, channel_col, views_col, top_channels).select(
        F.col("channel").alias(channel_col)
    )
    restricted = df.join(F.broadcast(top), channel_col, "left_semi")
    return top_k_per_group(restricted, channel_col, views_col, posts_per_channel, id_col)


def stats_report(
    df,
    cfg,
    text_col: str = "text",
    channel_col: str = "channel_username",
    views_col: str = "views",
    id_col: str = "post_id",
    top_posts_k: int = 20,
    top_channels_k: int = 15,
):
    """The reference's composite reporting object
    (/root/reference/main.py:385-437): per industry — cleaned slice,
    count, top-k posts by views, top-k channels by summed views — as a
    dict per industry.  The DataFrame entries (clean_df / top_posts /
    top_channels) stay LAZY slices of one `keywords.classified` subtree.
    Only `count` is an eager scalar (the reference's report shape,
    main.py:426), and it is read from `keywords.industry_counts`: one
    job for all industries, not one per industry.  Cache `df` upstream
    if actioning many pieces at once.
    """
    from . import keywords as K

    flagged = K.classified(df, cfg, text_col, channel_col)
    counts = dict(K.industry_counts(df, cfg, text_col, channel_col).collect())
    report = {}
    for industry in cfg.industries:
        sliced = flagged.where(F.col(K.flag_col(industry)))
        report[industry] = {
            "clean_df": sliced,
            "count": counts[industry],
            "top_posts": top_k_by(
                sliced.select(id_col, channel_col, views_col),
                views_col,
                top_posts_k,
                id_col,
            ),
            "top_channels": top_channels_by_views(
                sliced, channel_col, views_col, top_channels_k
            ),
        }
    return report


def time_decayed_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    half_life_days: float = 7.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Recency-weighted ("trending") aggregate: per key,
    Σ w · 0.5^(age/half_life), age measured in fractional days from
    the dataset's max timestamp (a DATA-DERIVED anchor, so the score
    is deterministic and re-runnable — wall-clock anchors would make
    the result unreproducible and oracle-uncheckable).

    The exponential kernel is the standard trending/decay score (each
    half_life_days of age halves a row's contribution).  Per-row
    weights are IEEE doubles (pow is bit-stable per engine and the
    oracle compare canonicalizes at 9 significant digits, absorbing
    cross-engine libm ulps); their per-key SUM accumulates in DECIMAL
    so the score is independent of partition order — the `_dot_dec`
    convention.  Physical shape: one scalar max (broadcast one-row
    join, the Q11 idiom) + one scan-stage weight expression + one
    map-side-combinable groupBy — nothing beyond an ordinary
    aggregation at any scale."""
    anchor = df.agg(F.max(ts_col).alias("_anchor"))
    # unix_micros requires TIMESTAMP (NTZ rejected); under the UTC
    # session timezone the cast is value-identical to the NTZ reading
    age_days = (
        F.unix_micros(F.col("_anchor").cast("timestamp"))
        - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).cast("double") / F.lit(86400.0e6)
    w = F.pow(F.lit(0.5), age_days / F.lit(float(half_life_days)))
    if weight_col is not None:
        w = w * F.col(weight_col).cast("double")
    return (
        df.crossJoin(F.broadcast(anchor))
        .select(*key_cols, w.alias("_w"))
        .groupBy(*key_cols)
        .agg(
            F.sum(F.col("_w").cast("decimal(38,18)"))
            .cast("double")
            .alias("decayed_score"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Market-basket frequent-pair mining with lift (the first A-priori
    pass of Agrawal & Srikant VLDB'94, pairs only — the itemset size
    that matters for co-occurrence analytics).

    The A-priori downward-closure prune is the 100 TB lever: a pair's
    support cannot exceed either item's support, so items below
    `min_support` are dropped BEFORE the within-basket self-join — the
    only quadratic stage — which then runs on frequent items only,
    co-partitioned on the basket key (one shuffle; per-basket pair
    fan-out is bounded by the frequent-item basket size, the classic
    skew knob).  Everything after the pair count is key-cardinality.

    lift(a,b) = P(a,b) / (P(a)P(b)) = n_both * N / (n_a * n_b),
    rounded to 9 so the double is engine-portable.  Returns
    (item_a, item_b, n_both, n_a, n_b, lift), item_a < item_b,
    pair support >= min_support, deterministically ordered.
    Reference N/A (no basket analysis in main.py)."""
    # materialize the distinct (basket, item) table ONCE (r14
    # optimization): its three consumers below (the basket count, the
    # item-support aggregate, and the frequent-item join) each push a
    # DIFFERENT column set into the scan, so Catalyst plans three
    # non-identical subtrees and exchange reuse never fires — the
    # measured plan re-scanned the fact table 14 times at sf0.1, and at
    # 100 TB every branch is a full table pass.  One localCheckpoint
    # turns that into one scan + one distinct shuffle, read three times.
    # Lifecycle trade (see materialize.py): the checkpoint job runs at
    # query-CONSTRUCTION time, and its blocks are executor-only — not
    # fault-tolerant; bounded table, cheap to re-run on node loss.
    items = baskets.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct().localCheckpoint()
    n_baskets = items.select(
        F.count_distinct("basket").cast("long").alias("n_baskets")
    )
    # isup is item-cardinality (small next to the fact); it too has
    # three consumers (the frequent filter and both lift attach sides)
    isup = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .localCheckpoint()
    )
    frequent = isup.where(F.col("n_item") >= min_support)
    fitems = items.join(frequent.select("item"), "item")
    a = fitems.select("basket", F.col("item").alias("item_a"))
    b = fitems.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    sa = isup.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    sb = isup.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(sa, "item_a")
        .join(sb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_baskets")
                # double denominator: long*long overflows int64 past
                # ~3e9-basket item supports (r10 continuation review
                # finding); the oracle casts identically
                / (F.col("n_a").cast("double") * F.col("n_b")),
                9,
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


def chisq_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence over a contingency
    table: the full (row x col) grid — INCLUDING structurally-empty
    cells, whose contribution is their expected count — with observed,
    expected and per-cell contribution; the statistic is the sum of
    `contrib` and the dof (r-1)(c-1) are derivable from the grid.

    100 TB shape: one groupBy over the fact for the observed cells,
    two key-cardinality margin aggregates, a broadcast cross of the
    two (tiny) label sets for the dense grid, then pure scan-stage
    arithmetic — the fact is read once.  Expected counts and
    contributions round to 9 so the doubles are engine-portable
    (margins are exact BIGINTs; the one division is identical IEEE in
    any engine).  Returns (row_val, col_val, n_obs, expected, contrib)
    deterministically ordered.  Reference N/A (no hypothesis tests in
    main.py)."""
    base = df.select(
        F.col(row_col).cast("string").alias("row_val"),
        F.col(col_col).cast("string").alias("col_val"),
    ).where(F.col("row_val").isNotNull() & F.col("col_val").isNotNull())
    obs = base.groupBy("row_val", "col_val").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    r_tot = base.groupBy("row_val").agg(F.count(F.lit(1)).alias("r_tot"))
    c_tot = base.groupBy("col_val").agg(F.count(F.lit(1)).alias("c_tot"))
    n = base.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        r_tot.crossJoin(F.broadcast(c_tot))
        .crossJoin(F.broadcast(n))
        .join(obs, ["row_val", "col_val"], "left")
        .select(
            "row_val",
            "col_val",
            F.coalesce(F.col("n_obs"), F.lit(0).cast("long")).alias("n_obs"),
            (
                F.col("r_tot").cast("double")
                * F.col("c_tot")
                / F.col("n_total")
            ).alias("e"),
        )
    )
    return grid.select(
        "row_val",
        "col_val",
        "n_obs",
        F.round(F.col("e"), 9).alias("expected"),
        F.round(
            (F.col("n_obs") - F.col("e")) * (F.col("n_obs") - F.col("e"))
            / F.col("e"),
            9,
        ).alias("contrib"),
    ).orderBy("row_val", "col_val")


def _zero_filled_daily(
    df: DataFrame, group_col: str, ts_col: str
) -> DataFrame:
    """Shared grid of the trend family (series_trend /
    series_trend_break): per (group, day-index x over the GLOBAL
    observed span) the daily count y, zero-filled so an absent day is
    a true 0 — plus the span's first day `lo` so callers can map a
    day index back to a date.  One fact aggregate + one broadcast
    spine cross, hoisted so the two operators' grids cannot drift
    apart (the _daily_grid/_purchase_edges hoist discipline)."""
    day = F.to_date(ts_col)
    daily = df.groupBy(
        F.col(group_col).alias("grp"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    return _zero_filled_from_daily(daily)


def _zero_filled_from_daily(daily: DataFrame) -> DataFrame:
    """The grid construction off a PRE-AGGREGATED (grp, day, y) table
    — split out (r13) so a persisted/streaming daily-counts MV can
    feed the same spine/zero-fill/x-index logic the batch operators
    use; the batch path above aggregates then delegates here, so the
    two grids cannot drift apart.

    r14 (guide §2.1/§5): `daily` is materialized ONCE — it has THREE
    consumers here (the span aggregate, the distinct-group list, the
    zero-fill left join) and the whole series family's callers then
    reference the returned grid 2-4 more times (totals + lag/pair
    attach sides), so without this every reference re-ran the
    fact-scale day-grain aggregate (the audit counted 12 events scans
    in event_trend_break, 12 in event_view_purchase_xcorr).  The
    materialized table is (group × day)-grain — thousands of rows
    however big the fact is — exactly the bounded-intermediate shape
    the round's rule allows (never an exploded stream).  The
    isStreaming guard keeps the MV path usable mid-stream.
    Lifecycle trade (see materialize.py): the checkpoint job runs at
    query-construction time; blocks are executor-only (not
    fault-tolerant) — day-grain table, cheap to re-run."""
    if not daily.isStreaming:
        daily = daily.localCheckpoint()
    lo_hi = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = lo_hi.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(
            "day"
        ),
        "lo",
    )
    return (
        daily.select("grp")
        .distinct()
        .crossJoin(F.broadcast(spine))
        .join(daily, ["grp", "day"], "left")
        .select(
            "grp",
            "lo",
            F.datediff("day", "lo").cast("long").alias("x"),
            F.coalesce("y", F.lit(0).cast("long")).alias("y"),
        )
    )


def series_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group OLS trend over the daily count series: slope and
    intercept of counts-per-day against the day index, zero-filled
    over the GLOBAL observed span so an absent day is a true 0, not a
    missing sample — the trend detector behind "which event types are
    growing".

    Exactness is the design: with x = day index and y = daily count,
    every regression moment (Σx, Σy, Σxy, Σx²) is an exact BIGINT sum,
    so slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is one double division
    of two exact integers — bit-identical in any engine, no DECIMAL
    gymnastics needed (the one operator family where integer moments
    beat the _dot_dec convention).  Returns (group, n_days, slope,
    intercept) rounded to 9, deterministically ordered.

    100 TB shape: one fact aggregate, a broadcast spine cross (the
    LOCF family's grid), one moment aggregate per group — the fact is
    read once and the regression state is four BIGINTs per group."""
    grid = _zero_filled_daily(df, group_col, ts_col).select("grp", "x", "y")
    m = grid.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = m["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den = m["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    # Degenerate-span guard (r10 advice item 1): when the global
    # observed span is a single day every x is 0 and den is 0 — Spark's
    # non-ANSI division yields NULL but DuckDB's IEEE double division
    # yields Infinity, a cross-engine divergence.  Both engines must
    # emit NULL, so the guard is explicit here and a CASE in the oracle.
    den_ok = den != F.lit(0)
    slope = F.when(den_ok, num.cast("double") / den)
    intercept = F.when(den_ok, (F.col("sy") - slope * F.col("sx")) / m["n"])
    return m.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_days"),
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
    ).orderBy(group_col)


MAD_Z_CUTOFF = 3.5  # Iglewicz-Hoaglin modified z-score threshold
MAD_SCALE = 0.6745  # Phi^-1(0.75): MAD -> sigma-consistent scale


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z: float = MAD_Z_CUTOFF,
) -> DataFrame:
    """Per-group robust outlier report via median/MAD (Iglewicz &
    Hoaglin 1993, "How to Detect and Handle Outliers"): a row is an
    outlier when its modified z-score 0.6745·|x − med| / MAD exceeds
    `z` — the price/length/quality screen that, unlike mean/stddev
    z-scores, is not dragged by the outliers it hunts (50% breakdown
    point vs 0%).

    Cross-engine exactness: both medians are DISCRETE order
    statistics (PERCENTILE_DISC / quantile_disc — the smallest value
    whose cumulative distribution reaches 0.5, verified to pick the
    identical element in Spark and DuckDB), so no (a+b)/2
    interpolation whose evaluation order could differ by an ulp; the
    outlier test multiplies shared double literals
    (0.6745·|x−med| > z·MAD) instead of dividing by MAD, and the
    MAD = 0 pathology (>50% of the group at the median — every other
    value would flag) is pinned to n_outliers = 0 in both engines.

    100 TB shape: two group-keyed aggregates (median, then MAD of
    deviations) and one final count — three shuffles on the group
    key, with the group-cardinality median/MAD tables joined back
    broadcast-sized.  Exact per-group percentiles hold the group's
    values in the aggregate buffer: right when groups are many and
    bounded (the catalog's 5 priorities x millions of rows each is
    the WRONG extreme for exact — the documented scale path swaps
    stage 1-2 to approx_percentile, the order_price_deciles
    trade-off, and everything downstream is unchanged).  Returns
    (group, n_rows, med, mad, n_outliers) deterministically
    ordered."""
    g = F.col(group_col)
    v = F.col(value_col)
    base = df.where(v.isNotNull()).select(g.alias("grp"), v.alias("x"))
    med = base.groupBy("grp").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("med"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dev = base.join(F.broadcast(med), "grp").select(
        "grp", "x", "med", "n_rows", F.abs(F.col("x") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("grp", "med", "n_rows").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("mad")
    )
    flagged = dev.drop("med", "n_rows").join(F.broadcast(mad), "grp").select(
        "grp",
        "med",
        "mad",
        "n_rows",
        F.when(
            (F.col("mad") > 0)
            & (F.lit(MAD_SCALE) * F.col("d") > F.lit(z) * F.col("mad")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_out"),
    )
    return (
        flagged.groupBy("grp", "med", "mad", "n_rows")
        .agg(F.sum("is_out").alias("n_outliers"))
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            "med",
            "mad",
            "n_outliers",
        )
        .orderBy(group_col)
    )


TREND_BREAK_MIN_SEG = 2  # minimum days on each side of a split


def series_trend_break(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    min_seg: int = TREND_BREAK_MIN_SEG,
) -> DataFrame:
    """Per-group single change-point detection over the zero-filled
    daily count series: the split day that minimizes the summed
    squared error of TWO independent OLS fits (left segment + right
    segment) — the classic two-segment regression regime-shift
    detector (Quandt 1958; Bai & Perron's m=1 case), the "when did
    this series change behavior" monitor on top of series_trend's
    single-slope answer.

    Engine-exactness is the design, extended from series_trend: every
    candidate split's left moments come from exact BIGINT CUMULATIVE
    sums (one ordered window pass), the right moments are exact
    differences from the group totals, and each segment's SSE

      SSE = (Σy² − (Σy)²/n) − (nΣxy − ΣxΣy)² / (n · (nΣx² − (Σx)²))

    uses ONLY +,−,×,÷ on exact integers — no libm — so the doubles
    are bit-identical in any engine and even the ARGMIN over splits
    cannot flip cross-engine (ties broken by earliest split).  The
    one-point segment (den = 0) contributes its exact base term
    (which is 0 for n = 1).

    100 TB shape: the fact collapses to (group, day) grain FIRST, so
    the window pass and the split scoring run over days x groups
    rows — thousands, not billions; everything after the first
    aggregate is broadcast-sized.  Groups whose span is shorter than
    2·min_seg days have no valid split and are absent (documented).
    Returns (group, n_days, break_day, slope_left, slope_right,
    sse_full, sse_split, gain) — break_day is the FIRST day of the
    right segment, slopes NULL for degenerate segments, doubles
    rounded to 9, deterministically ordered."""
    grid = _zero_filled_daily(df, group_col, ts_col)
    w = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.select(
        "grp",
        "lo",
        "x",
        F.sum(F.lit(1).cast("long")).over(w).alias("cn"),
        F.sum("x").over(w).alias("csx"),
        F.sum("y").over(w).alias("csy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("csxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("csxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("csyy"),
    )
    tot = grid.groupBy("grp").agg(
        F.count(F.lit(1)).alias("tn"),
        F.sum("x").alias("tsx"),
        F.sum("y").alias("tsy"),
        F.sum(F.col("x") * F.col("y")).alias("tsxy"),
        F.sum(F.col("x") * F.col("x")).alias("tsxx"),
        F.sum(F.col("y") * F.col("y")).alias("tsyy"),
    )

    def sse(n, sx, sy, sxx, sxy, syy):
        nd = n.cast("double")
        base = syy.cast("double") - (sy.cast("double") * sy.cast("double")) / nd
        num = (n * sxy - sx * sy).cast("double")
        den = n * sxx - sx * sx
        return F.when(
            den > 0, base - (num * num) / (nd * den.cast("double"))
        ).otherwise(base)

    def slope(n, sx, sy, sxx, sxy):
        num = (n * sxy - sx * sy).cast("double")
        den = n * sxx - sx * sx
        return F.when(den > 0, num / den)

    j = c.join(F.broadcast(tot), "grp")
    k = F.col("cn")  # split AFTER this row: left = first k days
    ln = (F.col("cn"), F.col("csx"), F.col("csy"), F.col("csxx"),
          F.col("csxy"), F.col("csyy"))
    rn = (
        F.col("tn") - F.col("cn"),
        F.col("tsx") - F.col("csx"),
        F.col("tsy") - F.col("csy"),
        F.col("tsxx") - F.col("csxx"),
        F.col("tsxy") - F.col("csxy"),
        F.col("tsyy") - F.col("csyy"),
    )
    scored = j.where(
        (k >= min_seg) & (F.col("tn") - k >= min_seg)
    ).select(
        "grp",
        "lo",
        "x",
        F.col("tn").alias("n_days"),
        (sse(ln[0], ln[1], ln[2], ln[3], ln[4], ln[5])
         + sse(rn[0], rn[1], rn[2], rn[3], rn[4], rn[5])).alias("sse_split"),
        slope(ln[0], ln[1], ln[2], ln[3], ln[4]).alias("slope_left"),
        slope(rn[0], rn[1], rn[2], rn[3], rn[4]).alias("slope_right"),
        sse(
            F.col("tn"), F.col("tsx"), F.col("tsy"), F.col("tsxx"),
            F.col("tsxy"), F.col("tsyy"),
        ).alias("sse_full"),
    )
    pick = Window.partitionBy("grp").orderBy(F.asc("sse_split"), F.asc("x"))
    return (
        scored.withColumn("_rk", F.row_number().over(pick))
        .where(F.col("_rk") == 1)
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            F.date_add(F.col("lo"), (F.col("x") + 1).cast("int")).alias(
                "break_day"
            ),
            F.round("slope_left", 9).alias("slope_left"),
            F.round("slope_right", 9).alias("slope_right"),
            F.round("sse_full", 9).alias("sse_full"),
            F.round("sse_split", 9).alias("sse_split"),
            F.round(F.col("sse_full") - F.col("sse_split"), 9).alias("gain"),
        )
        .orderBy(group_col)
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group Theil-Sen robust trend over the zero-filled daily
    count series (Theil 1950; Sen, JASA 1968): slope = the MEDIAN of
    all pairwise day slopes (y_j − y_i)/(x_j − x_i), intercept = the
    median of y − slope·x — the 29.3%-breakdown-point companion to
    series_trend's OLS (one corrupted burst day drags an OLS slope;
    it moves a median-of-slopes almost not at all), completing the
    robust family with mad_outliers.

    Engine-exactness: both medians are DISCRETE order statistics
    (percentile_disc / quantile_disc — verified to pick the identical
    element), each pairwise slope is ONE IEEE division of exact
    BIGINTs, and the residuals y − slope·x are single multiply-
    subtract chains on those exact values — no libm, so results are
    bit-identical cross-engine.

    100 TB shape: the fact collapses to (group, day) grain FIRST
    (the series_trend_break discipline), so the only quadratic stage
    — the day-pair self-join — is days² per group (a YEAR of days is
    ~66k pairs), broadcast-sized however big the fact is.  Returns
    (group, n_days, n_pairs, slope, intercept) rounded to 9,
    deterministically ordered; groups need >= 2 days (single-day
    spans have no pair and are absent, the series_trend degenerate
    case made explicit)."""
    grid = _zero_filled_daily(df, group_col, ts_col).select("grp", "x", "y")
    a = grid.select("grp", F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = grid.select("grp", F.col("x").alias("xj"), F.col("y").alias("yj"))
    pairs = a.join(b, "grp").where(F.col("xi") < F.col("xj")).select(
        "grp",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi"))
        ).alias("s"),
    )
    med = pairs.groupBy("grp").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s)").alias("slope"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    resid = grid.join(F.broadcast(med), "grp").select(
        "grp",
        "slope",
        "n_pairs",
        (F.col("y").cast("double") - F.col("slope") * F.col("x")).alias("r"),
    )
    return (
        resid.groupBy("grp", "slope", "n_pairs")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r)").alias(
                "intercept"
            ),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "n_pairs",
            F.round("slope", 9).alias("slope"),
            F.round("intercept", 9).alias("intercept"),
        )
        .orderBy(group_col)
    )


ACF_MAX_LAG = 7  # one week of daily lags: the seasonality diagnostic


def series_acf(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    max_lag: int = ACF_MAX_LAG,
) -> DataFrame:
    """Per-group sample autocorrelation function over the zero-filled
    daily count series, lags 1..max_lag (Box & Jenkins ch.2) — the
    seasonality/memory diagnostic completing the daily-series family:
    level (series_trend), regime shift (series_trend_break), robust
    slope (theil_sen_trend), and now the lag structure (a weekly cycle
    surfaces as a spike at lag 7).

      r_k = Σ_{t<n-k} (y_t − ȳ)(y_{t+k} − ȳ) / Σ_t (y_t − ȳ)²

    Engine-exactness (the series_trend_break discipline): multiply
    through by n² so every term is an exact BIGINT —

      r_k = (n²·C_k − n·S·(A_k+B_k) + (n−k)·S²) / (n·(n·Q − S²))

    with C_k = Σ y_t·y_{t+k}, A_k/B_k the lagged/leading partial sums,
    S = Σy, Q = Σy² — then ONE IEEE division; no libm, so the doubles
    are bit-identical cross-engine (rounded 9dp).  BIGINT headroom at
    fixture scale is ~10^17 of 9.2·10^18; a 100 TB deployment swaps
    the moment casts to DECIMAL(38,0) (both engines' decimal multiply
    is exact) — documented, not needed for the hash check.

    100 TB shape: the fact collapses to (group, day) grain FIRST; the
    lag attach explodes max_lag rows per day (days × L, never days²)
    and joins back on the EQUI key (grp, x + k = x') — everything
    after the first aggregate is days-sized.  Constant series
    (denominator 0) surface acf = NULL (both engines' CASE).  Returns
    (group, lag, n_days, n_pairs, acf) deterministically ordered."""
    if max_lag < 1:
        raise ValueError("series_acf: max_lag must be >= 1")
    grid = _zero_filled_daily(df, group_col, ts_col).select("grp", "x", "y")
    tot = grid.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    )
    lagged = grid.select(
        "grp",
        "x",
        F.col("y").alias("ya"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("k"),
    ).withColumn("x2", F.col("x") + F.col("k"))
    lead = grid.select(
        "grp", F.col("x").alias("x2"), F.col("y").alias("yb")
    )
    mom = (
        lagged.join(lead, ["grp", "x2"])
        .groupBy("grp", "k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ya") * F.col("yb")).alias("c"),
            F.sum("ya").alias("a"),
            F.sum("yb").alias("b"),
        )
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    num = (
        n * n * F.col("c")
        - n * s * (F.col("a") + F.col("b"))
        + (n - F.col("k")) * s * s
    )
    den = n * (n * q - s * s)
    return (
        mom.join(F.broadcast(tot), "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("k").alias("lag"),
            F.col("n").alias("n_days"),
            "n_pairs",
            F.when(
                den > 0,
                F.round(num.cast("double") / den.cast("double"), 9),
            ).alias("acf"),
        )
        .orderBy(group_col, "lag")
    )


def ks_two_sample(
    df: DataFrame,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the two
    sides of `side_col` (boolean): D = sup_x |F_a(x) − F_b(x)| — the
    nonparametric distribution-drift test completing the drift ladder
    (corpus_drift_terms compares token MASS via KL; this compares any
    numeric column's SHAPE — doc lengths, prices, scores — between
    snapshots or segments).

    Engine-exactness is total — no floats until the final report: the
    empirical CDFs are evaluated at each DISTINCT value (the correct
    tie handling) as integer cumulative counts, and the sup compares
    exact cross-multiplied fractions |ca·n_b − cb·n_a| over the common
    denominator n_a·n_b, so the maximizing value and the statistic are
    BIGINT arithmetic; the single division happens once, at the
    output.  The argmax location ties break on the smallest value.

    100 TB shape: one groupBy(value) count collapse (map-side
    combinable), one ordered window over DISTINCT values (the
    value-cardinality table, not the facts), one max fold.  Returns
    one row (n_a, n_b, ks_d, at_value), ks_d rounded 9dp."""
    side = F.col(side_col)
    base = df.where(
        F.col(value_col).isNotNull() & side.isNotNull()
    ).select(
        side.cast("boolean").alias("is_a"),
        F.col(value_col).alias("x"),
    )
    per_x = base.groupBy("x").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("da"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("db"),
    )
    return _ks_from_per_x(per_x)


def ks_from_counts(a_counts: DataFrame, b_counts: DataFrame) -> DataFrame:
    """ks_two_sample over PRE-AGGREGATED per-value counts — (x, n)
    tables for each side (e.g. one side a persisted/streaming counts
    MV, the other a batch aggregate).  Same exact integer sup; the
    full-outer value join zero-fills values one side never saw."""
    a = a_counts.select(F.col("x"), F.col("n").alias("da"))
    b = b_counts.select(F.col("x"), F.col("n").alias("db"))
    per_x = a.join(b, "x", "full_outer").select(
        "x",
        F.coalesce("da", F.lit(0).cast("long")).alias("da"),
        F.coalesce("db", F.lit(0).cast("long")).alias("db"),
    )
    return _ks_from_per_x(per_x)


def _ks_from_per_x(per_x: DataFrame) -> DataFrame:
    # Both drift CDFs run through scale.global_cumsums (ONE range
    # partition of the value table, pid-keyed window sums, bounded
    # offsets) and the argmax is a TakeOrdered limit(1) — no
    # unpartitioned window anywhere, so the statistic stays
    # distributed even when the tested column is near-unique and the
    # value-cardinality table approaches fact scale (the r13
    # vocab_heaps_law regime; previously this leaned on the
    # "value table is bounded" assumption).
    from . import scale as _scale

    tot = per_x.groupBy().agg(
        F.sum("da").alias("n_a"), F.sum("db").alias("n_b")
    )
    cum = _scale.global_cumsums(
        per_x, "x", {"ca": "da", "cb": "db"}
    ).select("x", "ca", "cb")
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "x",
        "n_a",
        "n_b",
        F.abs(
            F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
        ).alias("dnum"),
    )
    return (
        scored.orderBy(F.desc("dnum"), F.asc("x"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(
                    F.col("dnum").cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double"),
                    9,
                ),
            ).alias("ks_d"),
            F.col("x").alias("at_value"),
        )
    )


import math as _math

# Benford expected first-digit shares log10(1 + 1/d), computed ONCE in
# Python and embedded as literals in BOTH engines' plans (the pagerank
# damping-constant convention) — no in-engine libm whose log10 could
# differ at a power-of-ten boundary.
BENFORD_EXPECTED: dict[int, float] = {
    d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def benford_audit(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-significant-digit Benford audit (Benford 1938; Nigrini's
    forensic-accounting staple): observed digit shares vs the
    log10(1+1/d) law, with each digit's chi-square contribution — the
    fabricated-data / synthetic-corpus screen (price ledgers, token
    counts and file sizes follow Benford; invented numbers do not).

    Digit extraction is STRING-exact, not log-based: the value is
    converted to exact integer cents (round(x·100) — exact for
    2-decimal money doubles), and the first digit is the first
    character of the BIGINT's decimal string — identical in any
    engine, immune to the log10(100.0) = 1.999... ulp trap at
    power-of-ten boundaries.  Expected shares are shared Python
    literals; observed share and contribution are single IEEE ops on
    exact counts, rounded 9dp.

    100 TB shape: one scan-stage digit projection + one 9-group
    aggregate (map-side combinable) + a broadcast scalar total.
    NULL values and values below one cent (cents = round(x·100) < 1,
    which includes all non-positives) are excluded — Benford is
    defined on positive magnitudes, and the cent-resolution floor
    keeps n_total equal to the 1..9 spine's sum by construction.
    Returns (digit, n_obs, share, expected, contrib) — 9 rows,
    zero-filled for absent digits."""
    v = F.col(value_col)
    cents = F.round(v * 100).cast("long")
    # the population is values with at least one cent: a positive
    # value below half a cent rounds to cents = 0 (digit '0'), which
    # is outside the 1..9 law — excluding it HERE keeps n_total equal
    # to the spine's sum by construction instead of silently dropping
    # such rows from the shares
    digits = (
        df.where(v.isNotNull() & (cents >= 1))
        .select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias(
                "digit"
            )
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    spark = df.sparkSession
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = spine.join(digits, "digit", "left").select(
        "digit", F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs")
    )
    tot = full.groupBy().agg(F.sum("n_obs").alias("n_total"))
    exp_col = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        exp_col = F.when(
            F.col("digit") == d, F.lit(BENFORD_EXPECTED[d])
        ).otherwise(exp_col)
    share = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    e_cnt = exp_col * F.col("n_total").cast("double")
    contrib = (
        (F.col("n_obs").cast("double") - e_cnt)
        * (F.col("n_obs").cast("double") - e_cnt)
        / e_cnt
    )
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.when(F.col("n_total") > 0, F.round(share, 9)).alias("share"),
            F.round(exp_col, 9).alias("expected"),
            F.when(F.col("n_total") > 0, F.round(contrib, 9)).alias(
                "contrib"
            ),
        )
        .orderBy("digit")
    )


def _rank2_table(
    base: DataFrame, value_col: str, out_col: str
) -> DataFrame:
    """Per distinct value of `value_col`: TWICE its tie-averaged
    pooled rank — 2·avg_rank = 2·cum − cnt + 1 with cum the inclusive
    cumulative count, so the half-integer average rank stays an exact
    BIGINT.  The prefix sum runs through scale.global_cumsum (range
    partition + bounded offsets), NOT an unpartitioned window: a
    near-unique numeric column's value table approaches fact scale,
    exactly the regime the vocab_heaps_law r13 fix targets.  Returns
    (value_col, cnt, out_col)."""
    from . import scale as _scale

    counts = base.groupBy(value_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return _scale.global_cumsum(counts, value_col, "cnt").select(
        value_col,
        "cnt",
        (F.lit(2) * F.col("cum") - F.col("cnt") + F.lit(1)).alias(
            out_col
        ),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns
    (Spearman 1904): Pearson over tie-averaged ranks — the monotone-
    association member beside the linear corr the profiling family
    reports (a doubling-prices-doubles-quantities relation scores 1.0
    here even when Pearson is dragged by curvature or outliers).

    Engine-exactness: each column's tie-averaged rank is attached as
    2·rank (exact BIGINT off the distinct-value CDF — _rank2_table);
    scaling both rank vectors by 2 leaves Pearson unchanged.  The five
    moments accumulate in DECIMAL(38,0) (order-free integer sums);
    the final rho is a fixed IEEE tree over the cast moments — every
    cast value is far below 2^53 at hash-check scale, so the doubles
    are bit-identical cross-engine (rounded 9dp; the one sqrt is
    IEEE-correctly-rounded in both engines).

    100 TB shape: two groupBy(value) collapses (map-side combinable),
    two scale-safe prefix sums over the value tables (range-
    partitioned, never a single-task window even when values are
    near-unique), two fact-sized equi-joins to attach ranks, ONE
    moment aggregate.  Returns one row (n_rows, rho_spearman); NULL
    rho when either column is constant."""
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    rx = _rank2_table(base, "x", "r2x").drop("cnt")
    ry = _rank2_table(base, "y", "r2y").drop("cnt")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = (
        base.join(rx, "x")
        .join(ry, "y")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("r2x"))).alias("sx"),
            F.sum(dec(F.col("r2y"))).alias("sy"),
            F.sum(dec(F.col("r2x") * F.col("r2y"))).alias("sxy"),
            F.sum(dec(F.col("r2x") * F.col("r2x"))).alias("sxx"),
            F.sum(dec(F.col("r2y") * F.col("r2y"))).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    rho = (n * sxy - sx * sy) / F.sqrt(dx * dy)
    return mom.select(
        F.col("n").alias("n_rows"),
        F.when((dx > 0) & (dy > 0), F.round(rho, 9)).alias(
            "rho_spearman"
        ),
    )


XCORR_MAX_LAG = 7  # lead-lag window, days, each direction


def series_xcorr(
    df: DataFrame,
    group_col: str,
    type_a: str,
    type_b: str,
    ts_col: str = "ts",
    max_lag: int = XCORR_MAX_LAG,
) -> DataFrame:
    """Sample cross-correlation between two groups' zero-filled daily
    count series at lags −max_lag..max_lag (Box & Jenkins ch.11 CCF):
    r_k = corr(a_t, b_{t+k}) with FULL-span means and sds — the
    lead-lag diagnostic on top of series_acf (a positive spike at
    k=+2 reads "a leads b by two days").

    Engine-exactness (the series_acf discipline): multiplied through
    by n² so the numerator is one exact BIGINT —

      r_k = (n²·C_k − n·Sa·B_k − n·Sb·A_k + (n−|k|)·Sa·Sb)
            / (n · sqrt((n·Qa − Sa²) · (n·Qb − Sb²)))

    with C_k = Σ a_t·b_{t+k} over the overlap, A_k/B_k the overlap
    partial sums, Sa/Qa the full-span sum and sum-of-squares — then
    one IEEE multiply/sqrt/divide chain (sqrt is correctly rounded in
    both engines).  BIGINT headroom mirrors series_acf's documented
    DECIMAL(38,0) swap for a 100 TB deployment.

    100 TB shape: the fact collapses to (group, day) grain FIRST over
    the shared zero-filled grid; the lag attach explodes 2·max_lag+1
    rows per day of series a and joins series b on the EQUI key
    (x + k = x') — days × L, never days².  Constant series surface
    xcorr = NULL.  Returns (lag, n_days, n_pairs, xcorr) ordered by
    lag."""
    if max_lag < 1:
        raise ValueError("series_xcorr: max_lag must be >= 1")
    grid = _zero_filled_daily(
        df.where(F.col(group_col).isin(type_a, type_b)),
        group_col,
        ts_col,
    ).select("grp", "x", "y")
    a = grid.where(F.col("grp") == type_a).select("x", F.col("y").alias("ya"))
    b = grid.where(F.col("grp") == type_b).select(
        F.col("x").alias("x2"), F.col("y").alias("yb")
    )
    tots = grid.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    )
    ta = tots.where(F.col("grp") == type_a).select(
        F.col("n").alias("n"), F.col("s").alias("sa"), F.col("q").alias("qa")
    )
    tb = tots.where(F.col("grp") == type_b).select(
        F.col("s").alias("sb"), F.col("q").alias("qb")
    )
    lagged = a.select(
        "x",
        "ya",
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("k"),
    ).withColumn("x2", F.col("x") + F.col("k"))
    mom = (
        lagged.join(b, "x2")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ya") * F.col("yb")).alias("c"),
            F.sum("ya").alias("pa"),
            F.sum("yb").alias("pb"),
        )
    )
    n = F.col("n")
    num = (
        n * n * F.col("c")
        - n * F.col("sa") * F.col("pb")
        - n * F.col("sb") * F.col("pa")
        + (n - F.abs(F.col("k"))) * F.col("sa") * F.col("sb")
    )
    da = (n * F.col("qa") - F.col("sa") * F.col("sa")).cast("double")
    db = (n * F.col("qb") - F.col("sb") * F.col("sb")).cast("double")
    den = n.cast("double") * F.sqrt(da * db)
    return (
        mom.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("k").alias("lag"),
            F.col("n").alias("n_days"),
            "n_pairs",
            F.when(
                (da > 0) & (db > 0),
                F.round(num.cast("double") / den, 9),
            ).alias("xcorr"),
        )
        .orderBy("lag")
    )


def mann_whitney_u(
    df: DataFrame,
    side_col: str,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Mann-Whitney/Wilcoxon rank-sum test between
    the two sides of `side_col` (Mann & Whitney 1947): U_a off
    tie-averaged pooled ranks plus the tie-corrected normal z — the
    LOCATION tier of the drift ladder beside ks_two_sample's SHAPE
    tier (a corpus whose median length creeps up fires here with more
    power than KS when the shape is otherwise stable).

    Engine-exactness: pooled tie-averaged ranks enter as 2·rank
    (exact BIGINT off the distinct-value CDF), so 2·R_a, 2·U_a and
    the centered numerator 2·(U_a − n_a·n_b/2) are exact integers;
    the tie-correction term Σ(t³−t) is an exact BIGINT fold over the
    value table (a 100 TB deployment swaps the cubes to
    DECIMAL(38,0), the series_acf note).  z is ONE IEEE
    divide-by-sqrt over exact inputs, rounded 9dp; u_a is the exact
    half-integer as a double.  No continuity correction (documented;
    both engines identical).

    100 TB shape: one groupBy(value) collapse, one window over the
    value-cardinality table, scalar folds.  Returns one row
    (n_a, n_b, u_a, z); z NULL when either side is empty or all
    values tie."""
    side = F.col(side_col)
    base = df.where(
        F.col(value_col).isNotNull() & side.isNotNull()
    ).select(
        side.cast("boolean").alias("is_a"),
        F.col(value_col).alias("x"),
    )
    per_x = base.groupBy("x").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("da"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("db"),
    )
    return _mwu_from_per_x(per_x)


def mwu_from_counts(
    a_counts: DataFrame, b_counts: DataFrame
) -> DataFrame:
    """mann_whitney_u over PRE-AGGREGATED per-value counts — (x, n)
    tables for each side (the ks_from_counts convention: one side a
    persisted/streaming counts MV, the other a batch aggregate).
    Same exact integer rank arithmetic; the full-outer value join
    zero-fills values one side never saw."""
    a = a_counts.select(F.col("x"), F.col("n").alias("da"))
    b = b_counts.select(F.col("x"), F.col("n").alias("db"))
    per_x = a.join(b, "x", "full_outer").select(
        "x",
        F.coalesce("da", F.lit(0).cast("long")).alias("da"),
        F.coalesce("db", F.lit(0).cast("long")).alias("db"),
    )
    return _mwu_from_per_x(per_x)


def _mwu_from_per_x(per_x: DataFrame) -> DataFrame:
    # the pooled-rank CDF runs through scale.global_cumsum (the
    # _ks_from_per_x note): distributed even over a near-unique
    # value column's fact-scale value table
    from . import scale as _scale

    ranked = _scale.global_cumsum(
        per_x.select(
            "x", "da", "db", (F.col("da") + F.col("db")).alias("t")
        ),
        "x",
        "t",
    ).select(
        "da",
        "db",
        "t",
        (F.lit(2) * F.col("cum") - F.col("t") + F.lit(1)).alias("r2"),
    )
    agg = ranked.groupBy().agg(
        F.sum("da").alias("n_a"),
        F.sum("db").alias("n_b"),
        F.sum(F.col("da") * F.col("r2")).alias("r2a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    nn = na + nb
    num2 = F.col("r2a") - na * (na + 1) - na * nb  # 2·(U_a − μ_U)
    u2 = F.col("r2a") - na * (na + 1)  # 2·U_a
    var_u = (
        (na * nb).cast("double")
        / F.lit(12.0)
        * (
            (nn + 1).cast("double")
            - F.col("ties").cast("double")
            / (nn * (nn - 1)).cast("double")
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            (na > 0) & (nb > 0), u2.cast("double") / F.lit(2.0)
        ).alias("u_a"),
        F.when(
            (na > 0) & (nb > 0) & (var_u > 0),
            F.round(
                num2.cast("double") / (F.lit(2.0) * F.sqrt(var_u)), 9
            ),
        ).alias("z"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall tau-b rank correlation between two DISCRETE numeric
    columns (Kendall 1938, tau-b tie correction): concordant-minus-
    discordant pair mass over the geometric mean of tie-corrected
    pair counts — completing the association ladder (Pearson linear,
    Spearman monotone-by-rank, Kendall pairwise-order agreement, the
    most outlier-insensitive of the three).

    Engine-exactness is total until one sqrt: the data collapses to
    (x, y) cells with counts; concordant/discordant mass is an exact
    BIGINT fold over ordered cell PAIRS (nc = Σ c1·c2 over x1<x2 ∧
    y1<y2, nd over x1<x2 ∧ y1>y2); the doubled tie terms
    N0 = n(n−1), T1 = Σ tx(tx−1), T2 = Σ ty(ty−1) keep everything
    integer; tau = 2(nc−nd)/sqrt((N0−T1)(N0−T2)) is one IEEE
    multiply/sqrt/divide (the factors cast to double first —
    correctly rounded in both engines).

    100 TB shape: the ONLY fact-sized work is the groupBy(x, y)
    collapse (map-side combinable).  The cell-pair join is cells² —
    by design for DISCRETE/bucketed columns (quantities, grades,
    bucketed scores; the registered query runs quantity × discount,
    ≤ ~550 cells).  For continuous columns the cell table approaches
    fact scale and this operator is the WRONG tool — use
    spearman_corr, whose rank attach is linear; enforced by a
    guard: the cell count is bounded via assert_all_pairs_safe.
    Returns one row (n_rows, n_cells, tau_b); NULL tau when either
    column is constant."""
    from .scale import assert_all_pairs_safe

    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    assert_all_pairs_safe(
        cells, "kendall_tau_b cells", scale_alternative="spearman_corr"
    )
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("c").alias("c1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    pairs = a.join(b, F.col("x1") < F.col("x2")).select(
        (F.col("c1") * F.col("c2")).alias("w"),
        F.when(F.col("y1") < F.col("y2"), F.lit(1))
        .when(F.col("y1") > F.col("y2"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sgn"),
    )
    cd = pairs.groupBy().agg(
        F.coalesce(
            F.sum(F.when(F.col("sgn") == 1, F.col("w"))),
            F.lit(0).cast("long"),
        ).alias("nc"),
        F.coalesce(
            F.sum(F.when(F.col("sgn") == -1, F.col("w"))),
            F.lit(0).cast("long"),
        ).alias("nd"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).alias("t1"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).alias("t2"))
    )
    tot = cells.groupBy().agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    n = F.col("n")
    n0 = n * (n - 1)
    dx = (n0 - F.col("t1")).cast("double")
    dy = (n0 - F.col("t2")).cast("double")
    tau = (
        F.lit(2.0)
        * (F.col("nc") - F.col("nd")).cast("double")
        / F.sqrt(dx * dy)
    )
    return (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").alias("n_rows"),
            "n_cells",
            F.when((dx > 0) & (dy > 0), F.round(tau, 9)).alias("tau_b"),
        )
    )


def series_cusum(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group CUSUM change scan over the zero-filled daily count
    series (Page 1954): the maximum absolute cumulative deviation
    from the series mean, and the day it peaks — the classic
    mean-shift locator completing the change-detection family beside
    event_trend_break's two-segment OLS (CUSUM peaks AT the shift
    day; the OLS break minimizes residuals around it).

    Engine-exactness: with S = Σy over n days, the scaled deviation
    D_t = n·cum_t − (t+1)·S is an exact BIGINT per day (cum_t the
    inclusive prefix count); the argmax of |D_t| ties to the
    SMALLEST day index; the reported magnitude divides by n once
    (9dp).  The sign at the peak is kept: negative = the series ran
    below its mean first (an upward step), positive = above.

    100 TB shape: the fact collapses to (group, day) grain FIRST; the
    prefix window runs per group over the day-span-bounded grid;
    the argmax pick is one more bounded window.  Returns
    (group, n_days, at_x, cusum) with cusum = D_peak/n, NULL for a
    1-day span."""
    grid = _zero_filled_daily(df, group_col, ts_col).select("grp", "x", "y")
    return _cusum_from_grid(grid, group_col)


def cusum_from_daily(
    daily: DataFrame, out_col: str = "event_type"
) -> DataFrame:
    """series_cusum over a PRE-AGGREGATED (grp, day, y) daily-counts
    table (the ks_from_counts convention: the table is typically a
    persisted/streaming MV folded batch-by-batch) — same zero-filled
    grid, same exact BIGINT deviations, same argmax pick."""
    grid = _zero_filled_from_daily(daily).select("grp", "x", "y")
    return _cusum_from_grid(grid, out_col)


def _cusum_from_grid(grid: DataFrame, out_col: str) -> DataFrame:
    tot = grid.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    wc = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = (
        grid.withColumn("cum", F.sum("y").over(wc))
        .join(F.broadcast(tot), "grp")
        .select(
            "grp",
            "n",
            "x",
            (
                F.col("n") * F.col("cum")
                - (F.col("x") + 1) * F.col("s")
            ).alias("d"),
        )
    )
    pick = Window.partitionBy("grp").orderBy(
        F.desc(F.abs(F.col("d"))), F.asc("x")
    )
    return (
        dev.withColumn("_rk", F.row_number().over(pick))
        .where(F.col("_rk") == 1)
        .select(
            F.col("grp").alias(out_col),
            F.col("n").alias("n_days"),
            F.col("x").alias("at_x"),
            F.when(
                F.col("n") > 1,
                F.round(
                    F.col("d").cast("double") / F.col("n").cast("double"), 9
                ),
            ).alias("cusum"),
        )
        .orderBy(out_col)
    )


TRIM_TENTHS = 1  # default trim: n DIV 10 rows off EACH tail


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    trim_tenths: int = TRIM_TENTHS,
) -> DataFrame:
    """Exact alpha-trimmed mean of a money column (Tukey's robust
    location estimator): drop the lowest and highest `trim_tenths`
    tenths of the ordered sample (trim count = trim_tenths·n DIV 10,
    INTEGER arithmetic so both engines drop identical row counts) and
    average the middle — the robust-location member beside
    mad_outliers' robust-scale (a corrupted price burst drags the mean
    ~linearly; it cannot touch a 10%-trimmed mean until it owns 10% of
    the rows).

    Engine-exactness is total: values enter as exact integer CENTS
    (round(x·100), the benford convention — exact for 2-decimal money
    doubles); per distinct value the kept multiplicity is
    min(cum, hi) − max(cum − cnt, lo) clipped at 0 (BIGINT rank
    clipping off the inclusive CDF); Σ cents·kept accumulates in
    DECIMAL(38,0); ONE division at the output (9dp).

    100 TB shape: one groupBy(value) collapse (map-side combinable),
    then scale.global_cumsum's range-partitioned prefix sum over the
    value table — a near-unique money column's value table approaches
    fact scale, exactly the single-task-window regime the r13 rank
    fix targets.  Returns one row (n_rows, n_kept, trimmed_mean)."""
    from . import scale as _scale

    if not 0 <= trim_tenths < 5:
        raise ValueError("trimmed_mean: trim_tenths must be in [0, 5)")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.round(F.col(value_col) * 100).cast("long").alias("x")
    )
    per_x = base.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    cum = _scale.global_cumsum(per_x, "x", "cnt")
    tot = per_x.groupBy().agg(F.sum("cnt").alias("n"))
    # INTEGER division (expr `div`), not floor-of-double: a double
    # quotient goes inexact past 2^53 rows and the two engines could
    # trim different counts
    lo = F.expr(f"(n * {trim_tenths}) div 10")
    hi = F.col("n") - lo
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), hi)
        - F.greatest(F.col("cum") - F.col("cnt"), lo),
    )
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("n"),
            kept.alias("kept"),
            (F.col("x") * kept).cast("decimal(38,0)").alias("mass"),
        )
        .groupBy("n")
        .agg(
            F.sum("kept").alias("n_kept"),
            F.sum("mass").alias("cents"),
        )
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.round(
                F.col("cents").cast("double")
                / (F.lit(100.0) * F.col("n_kept").cast("double")),
                9,
            ),
        ).alias("trimmed_mean"),
    )


# Monday 1970-01-05: the fixed epoch for a cross-engine weekday index
# ((date - epoch) mod 7 = 0 for Mondays) — Spark's dayofweek() is
# 1=Sunday-based and DuckDB's dayofweek() 0=Sunday-based, so neither
# built-in is safe to mirror; integer date arithmetic is.
DOW_EPOCH = "1970-01-05"


def dow_seasonality(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-group day-of-week seasonality strength over the zero-filled
    daily count series: eta² — the share of daily-count variance
    explained by the weekday factor (the one-way-ANOVA effect size,
    Fisher 1925) — completing the daily-series diagnostic family:
    level (trend), regime (break/CUSUM), robustness (Theil-Sen/MAD),
    memory (ACF), lead-lag (CCF), and now the weekly cycle's STRENGTH
    (an ACF spike at lag 7 says a cycle exists; eta² says how much of
    the variance it owns — the seasonal-adjust-or-not decision).

      eta² = SSB / SST,  SSB = Σ_k S_k²/n_k − S²/n,
                         SST = Q − S²/n

    over the 7 weekday buckets k (indexed (day − 1970-01-05) mod 7 —
    integer date arithmetic, identical in both engines; the built-in
    dayofweek()s disagree on their base).  Engine-exactness: every
    moment (n, S, Q, n_k, S_k) is an exact BIGINT; each bucket's
    S_k²/n_k is a fixed IEEE tree over exact inputs, and the 7-term
    fold accumulates as DECIMAL(38,18) quantized terms (order-free);
    one division at the output (9dp).  Constant series (SST = 0)
    surface eta² = NULL.

    100 TB shape: the fact collapses to (group, day) grain FIRST; the
    bucket moments are a 7·G-row aggregate over the day-span-bounded
    grid.  Returns (group, n_days, eta2) deterministically ordered."""
    grid = _zero_filled_daily(df, group_col, ts_col).select(
        "grp", "lo", "x", "y"
    )
    k = F.pmod(
        F.datediff(F.date_add(F.col("lo"), F.col("x").cast("int")),
                   F.lit(DOW_EPOCH).cast("date")),
        F.lit(7),
    )
    bucket = grid.select("grp", k.alias("k"), "y")
    per_k = bucket.groupBy("grp", "k").agg(
        F.count(F.lit(1)).alias("nk"), F.sum("y").alias("sk")
    )
    tot = bucket.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    )
    term = (
        F.col("sk").cast("double")
        * F.col("sk").cast("double")
        / F.col("nk").cast("double")
    )
    ssb_part = per_k.groupBy("grp").agg(
        F.sum(term.cast("decimal(38,18)")).alias("ssb_raw")
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    mean_sq = s.cast("double") * s.cast("double") / n.cast("double")
    sst = q.cast("double") - mean_sq
    ssb = F.col("ssb_raw").cast("double") - mean_sq
    return (
        tot.join(ssb_part, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("n").alias("n_days"),
            F.when(sst > 0, F.round(ssb / sst, 9)).alias("eta2"),
        )
        .orderBy(group_col)
    )


def frequent_triples(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """The SECOND A-priori iteration (Agrawal & Srikant VLDB'94):
    frequent item TRIPLES, mined with the full downward-closure prune
    — the depth tier above frequent_pairs (pairs answer 'what sells
    together'; triples answer 'what bundle sells together', the
    market-basket bundle recommendation unit).

    The prune IS the 100 TB design, applied three times before the
    only counting stage: items below min_support drop before any
    join (L1); within-basket pair instances keep only L2-frequent
    pairs; each candidate extension (a, b, c) must have ALL THREE
    sub-pairs in L2 (two more equi-joins) — so the per-basket triple
    fan-out is bounded by the basket's L2-pair count times its
    frequent items, not C(k,3).  Everything after the triple count is
    key-cardinality.  All integer arithmetic.

    Returns (item_a < item_b < item_c, support) with support >=
    min_support, deterministically ordered."""
    # materialize each reused tier once (r14 optimization): items has
    # two consumers, fitems three (the a/b pair sides and the c
    # extension side), l2 three (the pair filter and both sub-pair
    # prunes) — without this every reference re-planned its whole
    # upstream (per-branch column pruning defeats exchange reuse) and
    # the measured plan re-scanned the fact table 36 times at sf0.1;
    # at 100 TB each of those is a full table pass.  items/fitems are
    # basket-grain (one scan's worth of narrow longs), l2 is
    # pair-key-cardinality — all bounded next to the pair-instance
    # stream, which stays unmaterialized (it is the one stage LARGER
    # than the input and is consumed co-partitioned).  Lifecycle trade
    # (see materialize.py): the checkpoint jobs run at query-
    # construction time; blocks are executor-only (not fault-tolerant)
    # — bounded tables, cheap to re-run on node loss.
    items = baskets.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct().localCheckpoint()
    isup = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    fitems = items.join(
        isup.where(F.col("n_item") >= min_support).select("item"), "item"
    ).localCheckpoint()
    a = fitems.select("basket", F.col("item").alias("item_a"))
    b = fitems.select("basket", F.col("item").alias("item_b"))
    pair_inst = a.join(b, "basket").where(
        F.col("item_a") < F.col("item_b")
    )
    l2 = (
        pair_inst.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_support)
        .select("item_a", "item_b")
        .localCheckpoint()
    )
    bp = pair_inst.join(l2, ["item_a", "item_b"])
    c = fitems.select("basket", F.col("item").alias("item_c"))
    cand = (
        bp.join(c, "basket")
        .where(F.col("item_c") > F.col("item_b"))
        # full A-priori prune: (a, c) and (b, c) must both be L2
        .join(
            l2.select(
                F.col("item_a"), F.col("item_b").alias("item_c")
            ),
            ["item_a", "item_c"],
        )
        .join(
            l2.select(
                F.col("item_a").alias("item_b"),
                F.col("item_b").alias("item_c"),
            ),
            ["item_b", "item_c"],
        )
    )
    return (
        cand.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .orderBy("item_a", "item_b", "item_c")
    )
