"""Unit tests for top-k/stats operators — especially deterministic
tie-breaking (SURVEY.md §2.6 ⚠: pandas nlargest breaks ties by first-seen
order, which has no stable Spark equivalent)."""

from __future__ import annotations

import pytest

from database_per_keyword_analysis_spark.operators import stats as S


@pytest.fixture(scope="module")
def posts(spark):
    rows = [
        (1, "chanA", 100),
        (2, "chanA", 100),  # tie on views -> lower id wins
        (3, "chanB", 300),
        (4, "chanB", 50),
        (5, "chanC", 200),
        (6, "chanC", 200),
        (7, "chanC", 10),
    ]
    return spark.createDataFrame(rows, "post_id long, channel string, views long")


def test_top_k_by_tiebreak(posts):
    out = S.top_k_by(posts, "views", 3, "post_id").collect()
    assert [r.post_id for r in out] == [3, 5, 6]


def test_top_channels_by_views(posts):
    out = S.top_channels_by_views(posts, "channel", "views", 2).collect()
    assert [(r.channel, r.total_views) for r in out] == [("chanC", 410), ("chanB", 350)]


def test_top_channels_by_count(posts):
    out = S.top_channels_by_count(posts, "channel", 1).collect()
    assert (out[0].channel, out[0].post_count) == ("chanC", 3)


def test_top_channels_tie_by_name(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (2, "a", 10)], "post_id long, channel string, views long"
    )
    out = S.top_channels_by_views(df, "channel", "views", 1).collect()
    assert out[0].channel == "a"  # equal totals -> name asc


def test_top_k_per_group(posts):
    out = S.top_k_per_group(posts, "channel", "views", 1, "post_id").collect()
    got = {(r.channel, r.post_id) for r in out}
    assert got == {("chanA", 1), ("chanB", 3), ("chanC", 5)}


def test_channel_audit(posts):
    out = S.channel_audit(
        posts, "channel", "views", "post_id", top_channels=2, posts_per_channel=2
    ).collect()
    got = {(r.channel, r.post_id, r.rn) for r in out}
    assert got == {
        ("chanC", 5, 1),
        ("chanC", 6, 2),
        ("chanB", 3, 1),
        ("chanB", 4, 2),
    }


def test_stats_report_composite(spark):
    from database_per_keyword_analysis_spark.config import KeywordConfig
    from database_per_keyword_analysis_spark.operators.stats import stats_report

    cfg = KeywordConfig(
        industry_keywords={"Steel": ["steel"], "Water": ["water"]},
        channel_blacklist=["spam"],
    )
    df = spark.createDataFrame(
        [
            (1, "a", 10, "steel up"),
            (2, "b", 30, "steel water"),
            (3, "spam", 99, "steel spam"),
            (4, "b", 5, "water only"),
        ],
        ["post_id", "channel_username", "views", "text"],
    )
    rep = stats_report(df, cfg)
    assert set(rep) == {"Steel", "Water"}
    assert rep["Steel"]["count"] == 2
    assert rep["Water"]["count"] == 2
    top = rep["Steel"]["top_posts"].collect()
    assert [r.post_id for r in top] == [2, 1]  # by views desc
    ch = rep["Water"]["top_channels"].collect()
    assert [(r.channel, r.total_views) for r in ch] == [("b", 35)]


def _sql_executions_and_jobs(spark, fn):
    """Run `fn` and return (SQL executions it started, jobs it ran),
    read from the session's SQL status store and the job tracker."""
    import uuid

    sc = spark.sparkContext
    tag = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 50), 50)
    executions = sum(
        1 for i in range(recent.size()) if recent.apply(i).description() == tag
    )
    return executions, len(sc.statusTracker().getJobIdsForGroup(tag))


_CONTRACT_ROWS = [
    # (post_id, channel, views, text)
    (1, "a", 10, "steel up"),
    (2, "b", 30, "steel water"),  # in two industries
    (3, "spam", 99, "steel spam"),  # blacklisted channel (when configured)
    (4, "b", 5, "water only"),
    (5, None, 30, "steel and water"),  # NULL channel
    (6, "c", 30, "steel c"),  # ties post 2 and 5 on views: id decides
    (7, "A", 5, "water a"),
    (8, "d", 35, "water d"),  # channel d ties channel b's water total
    (9, "x", 7, "nothing to see"),  # no keyword
    (10, "e", None, "steel e"),  # NULL views
    (11, "spam", 50, "oil spam"),
]


@pytest.mark.parametrize(
    "industries,blacklist",
    [
        ({"Steel": ["steel"], "Water": ["water"], "Gold": ["gold"]}, ["SPAM"]),
        (
            {
                "Steel": ["steel"],
                "Water": ["water"],
                "Gold": ["gold"],
                "Oil": ["oil"],
                "Any": ["a", "e"],
            },
            [],
        ),
    ],
)
def test_stats_report_is_one_action_and_matches_the_per_industry_reference(
    spark, industries, blacklist
):
    """stats_report builds every industry's pieces with ONE Spark action,
    whatever the number of industries; its top-k frames are local (no job
    to collect); and every piece equals the per-industry formulation
    (`top_k_by` / `top_channels_by_views` over the industry's flag slice,
    the count of that slice), schema included.  Covers a zero-hit
    industry (Gold), a post in two industries, tied views (id asc), tied
    channel totals (name asc), a NULL channel, NULL views and a
    blacklisted channel."""
    from pyspark.sql import functions as F

    from database_per_keyword_analysis_spark.config import KeywordConfig
    from database_per_keyword_analysis_spark.operators import keywords as K

    cfg = KeywordConfig(industry_keywords=industries, channel_blacklist=blacklist)
    df = spark.createDataFrame(
        _CONTRACT_ROWS, "post_id long, channel_username string, views long, text string"
    )
    kw = dict(top_posts_k=3, top_channels_k=3)
    built = {}
    executions, jobs = _sql_executions_and_jobs(
        spark, lambda: built.update(rep=S.stats_report(df, cfg, **kw))
    )
    assert executions == 1
    assert jobs >= 1
    rep = built["rep"]
    assert set(rep) == set(industries)

    got = {}
    _, jobs = _sql_executions_and_jobs(
        spark,
        lambda: got.update(
            {
                i: (v["top_posts"].collect(), v["top_channels"].collect())
                for i, v in rep.items()
            }
        ),
    )
    assert jobs == 0

    flagged = K.classified(df, cfg, channel_col="channel_username")
    for industry in industries:
        sliced = flagged.where(F.col(K.flag_col(industry)))
        posts = S.top_k_by(
            sliced.select("post_id", "channel_username", "views"),
            "views",
            kw["top_posts_k"],
            "post_id",
        )
        channels = S.top_channels_by_views(
            sliced, "channel_username", "views", kw["top_channels_k"]
        )
        assert rep[industry]["count"] == sliced.count(), industry
        assert got[industry] == (posts.collect(), channels.collect()), industry
        assert rep[industry]["top_posts"].schema == posts.schema
        assert rep[industry]["top_channels"].schema == channels.schema
        assert rep[industry]["clean_df"].collect() == sliced.collect()
    assert rep["Gold"]["count"] == 0
    assert got["Gold"] == ([], [])
    # the ties resolved as documented; the blacklist also drops the NULL
    # channel, since NOT IN over NULL is not true
    assert [r.post_id for r in got["Steel"][0]] == ([2, 6, 1] if blacklist else [3, 2, 5])
    assert [r.channel for r in got["Water"][1]] == ["b", "d", "A" if blacklist else None]


def test_frequent_pairs_apriori_contracts(spark):
    """r10 market-basket contracts: duplicate (basket, item) rows count
    once; pairs below min_support are dropped even when both items are
    frequent; infrequent items never appear; lift is the hand-computed
    n_both*N/(n_a*n_b)."""
    from database_per_keyword_analysis_spark.operators.stats import frequent_pairs

    rows = [
        # baskets 1-3 all contain {x, y}; z rides along twice; w once
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "y"), (2, "z"),
        (3, "x"), (3, "y"), (3, "w"),
        (3, "x"),  # duplicate line: same basket+item, must count once
        (4, "w"),
    ]
    df = spark.createDataFrame(rows, "oid long, item string")
    out = frequent_pairs(df, "oid", "item", min_support=2).collect()
    got = {(r.item_a, r.item_b): r for r in out}
    # frequent items: x(3), y(3), z(2), w(2); pairs >= 2: (x,y)=3, (x,z)=2, (y,z)=2
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    xy = got[("x", "y")]
    assert (xy.n_both, xy.n_a, xy.n_b) == (3, 3, 3)
    assert xy.lift == round(3 * 4 / (3 * 3), 9)  # N = 4 baskets
    xz = got[("x", "z")]
    assert (xz.n_both, xz.n_a, xz.n_b) == (2, 3, 2)
    assert xz.lift == round(2 * 4 / (3 * 2), 9)
    # w is frequent (2 baskets) but pairs with w have support 1: absent
    assert not any("w" in p for p in got)
    # min_support above every pair: empty result, schema intact
    none = frequent_pairs(df, "oid", "item", min_support=4)
    assert none.count() == 0
    assert none.columns == ["item_a", "item_b", "n_both", "n_a", "n_b", "lift"]


def test_chisq_independence_contracts(spark):
    """r10 chi-square contracts vs a hand-computed 2x2 table, including
    the empty-cell rule (contribution = expected) and null exclusion."""
    rows = (
        [("a", "x")] * 10
        + [("a", "y")] * 20
        + [("b", "x")] * 30
        + [(None, "x")]  # excluded
        + [("b", None)]  # excluded
    )
    df = spark.createDataFrame(rows, "r string, c string")
    from database_per_keyword_analysis_spark.operators.stats import (
        chisq_independence,
    )

    out = {(x.row_val, x.col_val): x for x in chisq_independence(df, "r", "c").collect()}
    # N=60; margins: a=30, b=30, x=40, y=20
    assert set(out) == {("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")}
    ax = out[("a", "x")]
    assert (ax.n_obs, ax.expected) == (10, 20.0)  # 30*40/60
    assert ax.contrib == round((10 - 20.0) ** 2 / 20.0, 9)
    # (b, y) is structurally empty: observed 0, contribution = expected
    by = out[("b", "y")]
    assert (by.n_obs, by.expected, by.contrib) == (0, 10.0, 10.0)
    # the statistic over the grid: 10+5+... hand total
    chisq = sum(x.contrib for x in out.values())
    assert chisq == 5.0 + 10.0 + 5.0 + 10.0


def test_series_trend_contracts(spark):
    """r10 OLS contracts: a perfectly linear series recovers its exact
    slope/intercept, a flat series gets slope 0, a group absent on
    some days regresses against TRUE zeros over the global span."""
    import datetime as dt

    from database_per_keyword_analysis_spark.operators.stats import series_trend

    d = lambda s: dt.datetime(2024, 1, s, 9, 0, 0)
    rows = []
    # group A: counts 1,2,3,4 on days 1-4 (slope 1, intercept 1)
    for day in range(1, 5):
        rows += [("A", d(day))] * day
    # group B: constant 2 per day (slope 0, intercept 2)
    for day in range(1, 5):
        rows += [("B", d(day))] * 2
    # group C: present only on day 4 with count 8 — zeros elsewhere:
    # x=[0,1,2,3], y=[0,0,0,8]: slope = (4*24 - 6*8)/(4*14 - 36) = 2.4
    rows += [("C", d(4))] * 8
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    out = {r.event_type: r for r in series_trend(df, "event_type").collect()}
    assert out["A"].n_days == 4
    assert (out["A"].slope, out["A"].intercept) == (1.0, 1.0)
    assert (out["B"].slope, out["B"].intercept) == (0.0, 2.0)
    assert out["C"].slope == 2.4 and out["C"].intercept == round(2.0 - 2.4 * 1.5, 9)


def test_series_trend_one_day_span_yields_null_not_infinity(spark):
    """r10 advice item 1: when the global observed span is a single
    day every x is 0 and the OLS denominator is 0 — the guard must
    emit NULL slope/intercept (matching the oracle's CASE), never an
    engine-dependent Infinity."""
    import datetime as dt

    from database_per_keyword_analysis_spark.operators.stats import series_trend

    t = dt.datetime(2024, 3, 1, 9, 0, 0)
    df = spark.createDataFrame(
        [("A", t), ("A", t), ("B", t)],
        "event_type string, ts timestamp_ntz",
    )
    rows = {r.event_type: r for r in series_trend(df, "event_type").collect()}
    assert rows["A"].n_days == 1 and rows["B"].n_days == 1
    for r in rows.values():
        assert r.slope is None and r.intercept is None


def test_mad_outliers_contracts(spark):
    """r11 MAD contracts: the discrete median/MAD are order
    statistics (lower-middle on even counts), a gross outlier flags
    while the robust core does not, the MAD=0 pathology yields zero
    outliers, and the estimator survives 30% contamination that would
    drag a mean/stddev screen."""
    from database_per_keyword_analysis_spark.operators.stats import mad_outliers

    rows = [("a", float(x)) for x in (1, 2, 3, 4, 1000)]
    rows += [("z", 5.0)] * 6  # constant group: MAD = 0
    # group c: 7 inliers around 10 plus 3 at 500 (30% contamination)
    rows += [("c", float(x)) for x in (9, 9, 10, 10, 10, 11, 11, 500, 500, 500)]
    df = spark.createDataFrame(rows, "grp string, x double")
    out = {r.grp: r for r in mad_outliers(df, "grp", "x").collect()}
    # group a: med = 3 (odd count), mad = median(|d|)=median(2,1,0,1,997)=1
    a = out["a"]
    assert (a.med, a.mad, a.n_rows) == (3.0, 1.0, 5)
    assert a.n_outliers == 1  # only the 1000 row: 0.6745*997 > 3.5
    z = out["z"]
    assert z.mad == 0.0 and z.n_outliers == 0  # pinned pathology
    c = out["c"]
    assert c.med == 10.0 and c.mad == 1.0
    assert c.n_outliers == 3  # the contamination, and nothing else


def test_series_trend_break_contracts(spark):
    """r11 change-point contracts: a planted slope break is recovered
    at the exact day, a perfectly linear series gains ~nothing from
    splitting, segment slopes match hand OLS, and groups with spans
    too short for two min_seg segments are absent."""
    import datetime as dt

    from database_per_keyword_analysis_spark.operators.stats import (
        series_trend_break,
    )

    d = lambda s: dt.datetime(2024, 1, s, 9, 0, 0)
    rows = []
    # group A: flat 2/day for days 1-6, then 10,14,18,22 (slope 4) —
    # break at day 7 (first day of the right regime)
    for day in range(1, 7):
        rows += [("A", d(day))] * 2
    for i, day in enumerate(range(7, 11)):
        rows += [("A", d(day))] * (10 + 4 * i)
    # group B: exactly linear 1..10 — any split fits perfectly too
    for day in range(1, 11):
        rows += [("B", d(day))] * day
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    out = {r.event_type: r for r in series_trend_break(df, "event_type").collect()}
    a = out["A"]
    assert a.n_days == 10
    assert a.break_day == dt.date(2024, 1, 7)
    assert a.slope_left == 0.0 and a.slope_right == 4.0
    assert a.sse_split == 0.0  # both regimes fit exactly
    assert a.gain == a.sse_full
    b = out["B"]
    assert b.sse_full == 0.0 and b.sse_split == 0.0 and b.gain == 0.0
    # a 3-day span cannot host two 2-day segments: absent
    short = spark.createDataFrame(
        [("C", d(k)) for k in (1, 2, 3)], "event_type string, ts timestamp_ntz"
    )
    assert series_trend_break(short, "event_type").count() == 0


def test_theil_sen_trend_contracts(spark):
    """r11 robust-trend contracts: exact slope/intercept on a clean
    linear series, robustness to a single gross outlier day that
    would drag OLS, hand-checkable medians on a tiny series, and the
    day-pair count."""
    import datetime as dt

    from database_per_keyword_analysis_spark.operators.stats import (
        series_trend,
        theil_sen_trend,
    )

    d = lambda s: dt.datetime(2024, 2, s, 9, 0, 0)
    rows = []
    # group A: y = x + 1 on days 1-9 ... with the LAST day corrupted
    # to 100 (an endpoint burst has maximal OLS leverage; a centered
    # one would cancel out of the slope entirely)
    for day in range(1, 10):
        n = 100 if day == 9 else day
        rows += [("A", d(day))] * n
    # group B: clean y = 2x + 3 on days 1-9
    for day in range(1, 10):
        rows += [("B", d(day))] * (2 * (day - 1) + 3)
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    ts = {r.event_type: r for r in theil_sen_trend(df, "event_type").collect()}
    b = ts["B"]
    assert (b.n_days, b.n_pairs) == (9, 36)
    assert (b.slope, b.intercept) == (2.0, 3.0)
    a = ts["A"]
    # the corrupted day barely moves the median slope (stays 1.0:
    # most pairs avoid day 5), while OLS is dragged far off
    assert a.slope == 1.0
    ols = {r.event_type: r for r in series_trend(df, "event_type").collect()}
    assert abs(ols["A"].slope - 1.0) > 1.0  # OLS dragged by the burst


class TestSeriesAcf:
    @staticmethod
    def _ref_acf(ys, max_lag):
        n = len(ys)
        m = sum(ys) / n
        den = sum((y - m) ** 2 for y in ys)
        out = {}
        for k in range(1, max_lag + 1):
            num = sum(
                (ys[t] - m) * (ys[t + k] - m) for t in range(n - k)
            )
            out[k] = None if den == 0 else round(num / den, 9)
        return out

    def _run(self, spark, series, max_lag=7):
        from datetime import datetime, timedelta

        from database_per_keyword_analysis_spark.operators import stats as ST

        rows = []
        t0 = datetime(2024, 1, 1)
        for day, count in enumerate(series):
            for _ in range(count):
                rows.append(("g", t0 + timedelta(days=day)))
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        return ST.series_acf(df, "event_type", max_lag=max_lag).collect()

    def test_matches_pure_python_reference(self, spark):
        # a series with trend + weekly bump + gaps (zero-filled days)
        series = [5, 2, 0, 4, 1, 3, 9, 6, 3, 1, 5, 2, 4, 10, 7, 4]
        got = {r.lag: r.acf for r in self._run(spark, series)}
        want = self._ref_acf(series, 7)
        assert got == want
        # integer moment identity vs the float reference: bit-equal
        # after 9dp rounding is exactly the cross-engine contract

    def test_period_two_alternation_is_negative_at_lag_one(self, spark):
        series = [9, 1] * 8
        got = {r.lag: r.acf for r in self._run(spark, series, max_lag=2)}
        assert got[1] < -0.8 and got[2] > 0.7
        assert got == self._ref_acf(series, 2)

    def test_constant_series_yields_null(self, spark):
        rows = self._run(spark, [3, 3, 3, 3, 3, 3, 3, 3], max_lag=3)
        assert [r.acf for r in rows] == [None, None, None]
        assert [r.n_pairs for r in rows] == [7, 6, 5]

    def test_lag_validation(self, spark):
        import pytest as _pytest

        from database_per_keyword_analysis_spark.operators import stats as ST

        df = spark.createDataFrame(
            [("g", "2024-01-01")], "event_type string, ts string"
        )
        with _pytest.raises(ValueError):
            ST.series_acf(df, "event_type", max_lag=0)


class TestKsTwoSample:
    def _run(self, spark, a_vals, b_vals):
        from database_per_keyword_analysis_spark.operators import stats as ST

        rows = [(True, float(v)) for v in a_vals] + [
            (False, float(v)) for v in b_vals
        ]
        df = spark.createDataFrame(rows, "is_a boolean, x double")
        return ST.ks_two_sample(df, "is_a", "x").collect()[0]

    def test_identical_samples_give_zero(self, spark):
        got = self._run(spark, [1, 2, 3, 4], [1, 2, 3, 4])
        assert got.ks_d == 0.0 and got.n_a == 4 and got.n_b == 4

    def test_disjoint_samples_give_one(self, spark):
        got = self._run(spark, [1, 2, 3], [10, 11, 12])
        assert got.ks_d == 1.0
        assert got.at_value == 3.0  # sup reached after A is exhausted

    def test_matches_scipy_style_reference(self, spark):
        import random

        rng = random.Random(9)
        a = [rng.uniform(0, 10) for _ in range(60)]
        b = [rng.uniform(2, 12) for _ in range(45)]
        got = self._run(spark, a, b)
        # pure-Python exact KS with tie handling at distinct values
        xs = sorted(set(a) | set(b))
        na, nb = len(a), len(b)
        best, at = -1, None
        ca = cb = 0
        sa, sb = sorted(a), sorted(b)
        for x in xs:
            while ca < na and sa[ca] <= x:
                ca += 1
            while cb < nb and sb[cb] <= x:
                cb += 1
            dn = abs(ca * nb - cb * na)
            if dn > best:
                best, at = dn, x
        assert got.ks_d == round(best / (na * nb), 9)
        assert got.at_value == at

    def test_tie_heavy_data_uses_distinct_value_cdf(self, spark):
        # A = {0 x5}, B = {0 x2, 1 x3}: at x=0, F_a=1, F_b=0.4 -> D=0.6
        got = self._run(spark, [0] * 5, [0, 0, 1, 1, 1])
        assert got.ks_d == 0.6 and got.at_value == 0.0


class TestBenfordAudit:
    def _run(self, spark, vals):
        from database_per_keyword_analysis_spark.operators import stats as ST

        df = spark.createDataFrame([(float(v),) for v in vals], "v double")
        return {r.digit: r for r in ST.benford_audit(df, "v").collect()}

    def test_digit_extraction_is_string_exact(self, spark):
        # values straddling power-of-ten boundaries where a log10-based
        # extraction can misfire by an ulp
        got = self._run(spark, [100.00, 999.99, 1000.00, 0.01, 9.99, 10.00])
        by_digit = {d: r.n_obs for d, r in got.items()}
        assert by_digit[1] == 4  # 100, 1000, 0.01 (cents=1), 10.00
        assert by_digit[9] == 2  # 999.99, 9.99
        assert sum(by_digit.values()) == 6
        assert len(got) == 9  # zero-filled spine

    def test_benford_sample_matches_reference(self, spark):
        import math
        import random

        rng = random.Random(13)
        # log-uniform magnitudes follow Benford closely
        vals = [round(10 ** rng.uniform(0, 4), 2) for _ in range(4000)]
        vals = [v for v in vals if v > 0]
        got = self._run(spark, vals)
        n = len(vals)
        from collections import Counter

        ref = Counter(str(int(round(v * 100)))[0] for v in vals)
        for d in range(1, 10):
            r = got[d]
            assert r.n_obs == ref.get(str(d), 0)
            assert r.expected == round(math.log10(1 + 1 / d), 9)
            assert r.share == round(r.n_obs / n, 9)
        # the sample is Benford-ish: digit 1 leads, digit 9 trails
        assert got[1].n_obs > got[9].n_obs

    def test_nonpositive_and_null_excluded(self, spark):
        from database_per_keyword_analysis_spark.operators import stats as ST

        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (None,), (2.50,)], "v double"
        )
        rows = {r.digit: r for r in ST.benford_audit(df, "v").collect()}
        assert sum(r.n_obs for r in rows.values()) == 1
        assert rows[2].n_obs == 1


# ---------------------------------------------------------------- r13


def _spearman_py(xs, ys):
    # pure-Python tie-averaged Spearman reference (no scipy)
    def avg_ranks(vs):
        order = sorted(vs)
        first = {}
        for i, v in enumerate(order):
            first.setdefault(v, i + 1)
        cnt = {}
        for v in order:
            cnt[v] = cnt.get(v, 0) + 1
        return [first[v] + (cnt[v] - 1) / 2.0 for v in vs]

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    dx = sum((a - mx) ** 2 for a in rx)
    dy = sum((b - my) ** 2 for b in ry)
    return num / (dx * dy) ** 0.5


def test_spearman_perfect_monotone_nonlinear(spark):
    # y = x^3 is nonlinear but perfectly monotone: rho exactly 1
    rows = [(float(x), float(x) ** 3) for x in range(-5, 6)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = S.spearman_corr(df, "x", "y").collect()[0]
    assert r.n_rows == 11 and r.rho_spearman == 1.0
    rev = spark.createDataFrame(
        [(x, -y) for x, y in rows], "x double, y double"
    )
    assert S.spearman_corr(rev, "x", "y").collect()[0].rho_spearman == -1.0


def test_spearman_with_ties_matches_pure_python(spark):
    import random

    rng = random.Random(13)
    xs = [float(rng.randint(0, 8)) for _ in range(60)]  # heavy ties
    ys = [x + rng.randint(-3, 3) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = S.spearman_corr(df, "x", "y").collect()[0].rho_spearman
    assert abs(got - round(_spearman_py(xs, ys), 9)) <= 2e-9


def test_spearman_constant_column_is_null(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double"
    )
    r = S.spearman_corr(df, "x", "y").collect()[0]
    assert r.n_rows == 3 and r.rho_spearman is None


def _xcorr_py(a, b, k):
    n = len(a)
    sa, sb = sum(a), sum(b)
    qa = sum(v * v for v in a)
    qb = sum(v * v for v in b)
    pairs = [
        (a[t], b[t + k]) for t in range(n) if 0 <= t + k < n
    ]
    c = sum(x * y for x, y in pairs)
    pa = sum(x for x, _ in pairs)
    pb = sum(y for _, y in pairs)
    num = n * n * c - n * sa * pb - n * sb * pa + (n - abs(k)) * sa * sb
    den = n * ((n * qa - sa * sa) * (n * qb - sb * sb)) ** 0.5
    return num / den


def test_series_xcorr_detects_known_lead(spark):
    # series b is series a shifted +2 days: the CCF peaks at lag +2
    # with r exactly 1 (identical shapes, full-span moments coincide
    # only on the overlap — peak is the max, not necessarily 1.0;
    # assert argmax and the pure-Python replay instead)
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    a_counts = [5, 1, 4, 9, 2, 7, 3, 8, 6, 1, 5, 2, 9, 4, 7, 3, 1, 8, 2, 6]
    rows = []
    eid = 0
    for d, c in enumerate(a_counts):
        for _ in range(c):
            rows.append((eid, t0 + timedelta(days=d), 1, "a"))
            eid += 1
    for d, c in enumerate(a_counts):
        d2 = d + 2
        if d2 < len(a_counts):
            for _ in range(c):
                rows.append((eid, t0 + timedelta(days=d2), 1, "b"))
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r.lag: r for r in S.series_xcorr(df, "event_type", "a", "b").collect()
    }
    assert set(out) == set(range(-7, 8))
    best = max(out.values(), key=lambda r: (r.xcorr or -9))
    assert best.lag == 2
    # pure-Python replay of the grid-level formula at every lag
    n = len(a_counts)
    b_counts = [0, 0] + a_counts[: n - 2]
    for k in range(-7, 8):
        exp = round(_xcorr_py(a_counts, b_counts, k), 9)
        assert abs(out[k].xcorr - exp) <= 2e-9, (k, out[k].xcorr, exp)
        assert out[k].n_pairs == n - abs(k)


def test_series_xcorr_constant_series_is_null(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    for d in range(5):
        rows.append((d * 2, t0 + timedelta(days=d), 1, "a"))
        rows.append((d * 2 + 1, t0 + timedelta(days=d), 1, "b"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = S.series_xcorr(df, "event_type", "a", "b", max_lag=2).collect()
    assert all(r.xcorr is None for r in out)  # both series constant 1/day
    with pytest.raises(ValueError):
        S.series_xcorr(df, "event_type", "a", "b", max_lag=0)


def _mwu_py(a_vals, b_vals):
    pooled = sorted(a_vals + b_vals)
    first = {}
    for i, v in enumerate(pooled):
        first.setdefault(v, i + 1)
    cnt = {}
    for v in pooled:
        cnt[v] = cnt.get(v, 0) + 1
    rk = {v: first[v] + (cnt[v] - 1) / 2.0 for v in cnt}
    na, nb = len(a_vals), len(b_vals)
    n = na + nb
    ra = sum(rk[v] for v in a_vals)
    u = ra - na * (na + 1) / 2.0
    ties = sum(t**3 - t for t in cnt.values())
    var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (u - na * nb / 2.0) / var**0.5
    return u, z


def test_mann_whitney_matches_pure_python(spark):
    import random

    rng = random.Random(7)
    a = [rng.randint(10, 40) for _ in range(35)]
    b = [rng.randint(15, 45) for _ in range(25)]  # shifted up
    rows = [(True, v) for v in a] + [(False, v) for v in b]
    df = spark.createDataFrame(rows, "is_a boolean, x long")
    r = S.mann_whitney_u(df, "is_a", "x").collect()[0]
    u, z = _mwu_py(a, b)
    assert (r.n_a, r.n_b) == (35, 25)
    assert r.u_a == u
    assert abs(r.z - round(z, 9)) <= 2e-9
    assert z < 0  # b shifted up -> a's ranks low -> negative z


def test_mann_whitney_all_tied_is_null_z(spark):
    df = spark.createDataFrame(
        [(True, 5), (True, 5), (False, 5), (False, 5)], "is_a boolean, x long"
    )
    r = S.mann_whitney_u(df, "is_a", "x").collect()[0]
    assert r.z is None  # var 0 when every value ties
    assert r.u_a == 2.0  # U_a = R_a - na(na+1)/2 = (2.5+2.5) - 3


def test_mann_whitney_empty_side_is_null(spark):
    df = spark.createDataFrame([(True, 1), (True, 2)], "is_a boolean, x long")
    r = S.mann_whitney_u(df, "is_a", "x").collect()[0]
    assert r.n_b == 0 and r.u_a is None and r.z is None


def _kendall_py(xs, ys):
    n = len(xs)
    nc = nd = 0
    for i in range(n):
        for j in range(i + 1, n):
            a = (xs[i] - xs[j]) * (ys[i] - ys[j])
            if a > 0:
                nc += 1
            elif a < 0:
                nd += 1
    from collections import Counter

    t1 = sum(t * (t - 1) for t in Counter(xs).values())
    t2 = sum(t * (t - 1) for t in Counter(ys).values())
    n0 = n * (n - 1)
    return 2 * (nc - nd) / ((n0 - t1) * (n0 - t2)) ** 0.5


def test_kendall_perfect_and_reversed(spark):
    rows = [(float(i), float(i * i)) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = S.kendall_tau_b(df, "x", "y").collect()[0]
    assert r.n_rows == 8 and r.n_cells == 8 and r.tau_b == 1.0
    rev = spark.createDataFrame(
        [(x, -y) for x, y in rows], "x double, y double"
    )
    assert S.kendall_tau_b(rev, "x", "y").collect()[0].tau_b == -1.0


def test_kendall_with_ties_matches_pure_python(spark):
    import random

    rng = random.Random(29)
    xs = [float(rng.randint(0, 6)) for _ in range(50)]
    ys = [x + rng.randint(-2, 2) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = S.kendall_tau_b(df, "x", "y").collect()[0]
    assert abs(got.tau_b - round(_kendall_py(xs, ys), 9)) <= 2e-9


def test_kendall_constant_column_is_null(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.0), (3.0, 2.0)], "x double, y double"
    )
    r = S.kendall_tau_b(df, "x", "y").collect()[0]
    assert r.tau_b is None and r.n_cells == 3


def test_series_cusum_locates_known_step(spark):
    # 10 days at 2/day then 10 days at 8/day: |D_t| peaks at the last
    # low day (x=9); the sign is negative (series below its mean first)
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for d in range(20):
        for _ in range(2 if d < 10 else 8):
            rows.append((eid, t0 + timedelta(days=d), 1, "a"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    r = S.series_cusum(df, "event_type").collect()[0]
    assert r.n_days == 20 and r.at_x == 9
    # D_9 = n*cum_9 - 10*S = 20*20 - 10*100 = -600; cusum = -600/20
    assert r.cusum == -30.0


def test_series_cusum_matches_pure_python(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(17)
    t0 = datetime(2024, 1, 1)
    counts = [rng.randint(0, 9) for _ in range(30)]
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, t0 + timedelta(days=d), 1, "a"))
            eid += 1
    # ensure first/last day nonzero so the span is the full 30 days
    rows.append((eid, t0, 1, "a"))
    rows.append((eid + 1, t0 + timedelta(days=29), 1, "a"))
    counts[0] += 1
    counts[29] += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    n = len(counts)
    s = sum(counts)
    cum = 0
    best = None
    for x, y in enumerate(counts):
        cum += y
        d = n * cum - (x + 1) * s
        if best is None or abs(d) > abs(best[1]):
            best = (x, d)
    r = S.series_cusum(df, "event_type").collect()[0]
    assert (r.at_x, r.cusum) == (best[0], round(best[1] / n, 9))


def test_series_cusum_one_day_span_is_null(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "a"), (2, datetime(2024, 1, 1), 2, "a")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    r = S.series_cusum(df, "event_type").collect()[0]
    assert r.n_days == 1 and r.cusum is None


def test_mwu_from_counts_equals_row_level(spark):
    import random

    rng = random.Random(3)
    a = [rng.randint(0, 15) for _ in range(40)]
    b = [rng.randint(5, 20) for _ in range(30)]
    rows = [(True, v) for v in a] + [(False, v) for v in b]
    df = spark.createDataFrame(rows, "is_a boolean, x long")
    direct = S.mann_whitney_u(df, "is_a", "x").collect()
    from collections import Counter

    ca = spark.createDataFrame(
        sorted(Counter(a).items()), "x long, n long"
    )
    cb = spark.createDataFrame(
        sorted(Counter(b).items()), "x long, n long"
    )
    via_counts = S.mwu_from_counts(ca, cb).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in via_counts]


def test_trimmed_mean_hand_example(spark):
    # 10 values 1..9 + 1000 outlier: n=10, lo=hi-trim=1 each side ->
    # keep ranks 2..9 = values 2..9, mean 5.5; the outlier is gone
    vals = [float(v) for v in range(1, 10)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "p double")
    r = S.trimmed_mean(df, "p").collect()[0]
    assert (r.n_rows, r.n_kept) == (10, 8)
    assert r.trimmed_mean == 5.5


def test_trimmed_mean_ties_split_across_the_cut(spark):
    # value 2.0 has multiplicity straddling the lower cut: the rank
    # clipping must keep only its in-range copies
    vals = [2.0] * 5 + [3.0] * 10 + [4.0] * 5  # n=20, lo=2, hi=18
    df = spark.createDataFrame([(v,) for v in vals], "p double")
    r = S.trimmed_mean(df, "p").collect()[0]
    # kept: 2.0 x3 (ranks 3-5), 3.0 x10, 4.0 x3 (ranks 16-18)
    assert r.n_kept == 16
    assert r.trimmed_mean == round((2 * 3 + 3 * 10 + 4 * 3) / 16, 9)


def test_trimmed_mean_matches_pure_python(spark):
    import random

    rng = random.Random(41)
    vals = [round(rng.uniform(1, 500), 2) for _ in range(137)]
    df = spark.createDataFrame([(v,) for v in vals], "p double")
    r = S.trimmed_mean(df, "p").collect()[0]
    cents = sorted(round(v * 100) for v in vals)
    lo = len(cents) // 10
    kept = cents[lo: len(cents) - lo]
    assert r.n_kept == len(kept)
    assert r.trimmed_mean == round(sum(kept) / (100.0 * len(kept)), 9)
    import pytest as _pt

    with _pt.raises(ValueError):
        S.trimmed_mean(df, "p", trim_tenths=5)


def test_trimmed_mean_zero_trim_is_exact_mean(spark):
    vals = [1.25, 2.50, 3.75]
    df = spark.createDataFrame([(v,) for v in vals], "p double")
    r = S.trimmed_mean(df, "p", trim_tenths=0).collect()[0]
    assert r.n_kept == 3 and r.trimmed_mean == 2.5


def test_dow_seasonality_pure_weekly_cycle_is_one(spark):
    # counts depend ONLY on weekday over exactly 4 full weeks: the
    # weekday factor explains ALL variance -> eta2 exactly 1
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)  # a Monday
    per_dow = [5, 1, 4, 2, 7, 3, 6]
    rows = []
    eid = 0
    for d in range(28):
        for _ in range(per_dow[d % 7]):
            rows.append((eid, t0 + timedelta(days=d), 1, "a"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    r = S.dow_seasonality(df, "event_type").collect()[0]
    assert r.n_days == 28 and r.eta2 == 1.0


def test_dow_seasonality_constant_series_is_null(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [(d, t0 + timedelta(days=d), 1, "a") for d in range(14)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    r = S.dow_seasonality(df, "event_type").collect()[0]
    assert r.eta2 is None  # 1 event every day: zero variance


def test_dow_seasonality_matches_pure_python(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(31)
    t0 = datetime(2024, 1, 1)
    counts = [rng.randint(0, 9) for _ in range(45)]
    counts[0] += 1
    counts[-1] += 1  # pin the span
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, t0 + timedelta(days=d), 1, "a"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    # 2024-01-01 is a Monday: epoch index (day - 1970-01-05) % 7 == d % 7
    n = len(counts)
    s = sum(counts)
    q = sum(y * y for y in counts)
    from collections import defaultdict

    nk, sk = defaultdict(int), defaultdict(int)
    for d, y in enumerate(counts):
        nk[d % 7] += 1
        sk[d % 7] += y
    ssb = sum(sk[k] ** 2 / nk[k] for k in nk) - s * s / n
    sst = q - s * s / n
    r = S.dow_seasonality(df, "event_type").collect()[0]
    assert abs(r.eta2 - round(ssb / sst, 9)) <= 2e-9


def test_frequent_triples_hand_example(spark):
    # baskets: {a,b,c} x3, {a,b,d} x2, {a,d} x1 ->
    # triple (a,b,c) support 3; (a,b,d) support 2; nothing else
    rows = []
    for i, basket in enumerate(
        [("a", "b", "c")] * 3 + [("a", "b", "d")] * 2 + [("a", "d")]
    ):
        for it in basket:
            rows.append((i, it))
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r.item_a, r.item_b, r.item_c): r.support
        for r in S.frequent_triples(df, "basket", "item", 2).collect()
    }
    assert got == {("a", "b", "c"): 3, ("a", "b", "d"): 2}


def test_frequent_triples_prunes_infrequent_subpair(spark):
    # (x,y), (x,z) frequent but (y,z) co-occurs only once: the full
    # A-priori prune must kill candidate (x,y,z) even though the
    # triple itself occurs... it cannot — a triple occurrence implies
    # all sub-pairs co-occur; instead pin that a triple whose own
    # support is 1 is dropped even when all sub-pairs are frequent
    rows = []
    baskets = [("x", "y"), ("x", "y"), ("x", "z"), ("x", "z"),
               ("y", "z"), ("y", "z"), ("x", "y", "z")]
    for i, basket in enumerate(baskets):
        for it in basket:
            rows.append((i, it))
    df = spark.createDataFrame(rows, "basket long, item string")
    out = S.frequent_triples(df, "basket", "item", 2).collect()
    assert out == []  # all three pairs L2-frequent, triple support 1


def test_frequent_triples_matches_bruteforce(spark):
    import itertools
    import random
    from collections import Counter

    rng = random.Random(5)
    baskets = []
    for _ in range(40):
        k = rng.randint(2, 5)
        baskets.append(tuple(sorted(rng.sample("abcdefgh", k))))
    rows = [
        (i, it) for i, basket in enumerate(baskets) for it in basket
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    support = Counter()
    for basket in baskets:
        for t in itertools.combinations(sorted(set(basket)), 3):
            support[t] += 1
    want = {t: s for t, s in support.items() if s >= 2}
    got = {
        (r.item_a, r.item_b, r.item_c): r.support
        for r in S.frequent_triples(df, "basket", "item", 2).collect()
    }
    assert got == want
