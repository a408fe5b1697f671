"""Word-frequency analysis (A5 + U1-U7): the reference's NLP reporting
stage, de-looped.

Reference: per industry slice (plus a "Global" any-industry group), build
a Counter over filtered tokens and take the top 50
(/root/reference/main.py:440-567) — a Python for-loop over rows.

Spark realization: normalize → tokenize → explode → keep-predicate →
stopword anti-filter → groupBy(group, word).count() → row_number ≤ n.
One shuffle for the count (map-side combine first: the word domain is
tiny compared to token instances) and one for the per-group ranking
window over the counted (group, word) pairs — which is already small.

Dynamic stopwords (U7): the reference adds every channel username and its
'@name' form to the stopword set (main.py:448-453).  `dynamic_stopwords`
builds that as a DataFrame; we apply stopwords with a broadcast left_anti
join so a million-row stopword list would work unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX


def dynamic_stopwords(df: DataFrame, channel_col: str) -> DataFrame:
    """Distinct lowered channel names and their '@name' forms as a
    one-column ('word') stopword DataFrame (U7; main.py:448-453)."""
    # one distinct pass, both name forms exploded from it — a union of two
    # references to the distinct would scan and shuffle the corpus twice
    return (
        df.select(F.lower(F.col(channel_col)).alias("word"))
        .distinct()
        .select(
            F.explode(
                F.array(F.col("word"), F.concat(F.lit("@"), F.col("word")))
            ).alias("word")
        )
    )


def tokens(
    df: DataFrame,
    text_col: str = "text",
    spec: TX.TokenFilterSpec = TX.ENGLISH_SPEC,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exploded, filtered token stream: one row per kept token, with
    `keep_cols` carried through.  Column: `word`."""
    tok = F.explode(TX.tokenize(TX.normalize_text(F.col(text_col)))).alias("word")
    exploded = df.where(F.col(text_col).isNotNull()).select(*keep_cols, tok)
    return exploded.where(TX.token_keep_predicate(F.col("word"), spec))


def word_frequency(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    stopwords: DataFrame | list[str] | None = None,
    top_n: int = 50,
    spec: TX.TokenFilterSpec = TX.ENGLISH_SPEC,
) -> DataFrame:
    """Top-n words per group (A5).  Returns (group_cols..., word, cnt, rn),
    rn = 1-based rank by cnt desc / word asc (deterministic tie-break)."""
    tok = tokens(df, text_col, spec, keep_cols=tuple(group_cols))
    if stopwords is not None:
        if isinstance(stopwords, list):
            tok = tok.where(~F.col("word").isin(*stopwords)) if stopwords else tok
        else:
            tok = tok.join(
                F.broadcast(stopwords.select(F.col("word"))), "word", "left_anti"
            )
    counts = tok.groupBy(*group_cols, "word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(*group_cols).orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
        .orderBy(*group_cols, "rn")
    )


def word_frequency_by_industry(
    df: DataFrame,
    cfg,
    text_col: str = "text",
    channel_col: str | None = None,
    top_n: int = 10,
    spec: TX.TokenFilterSpec = TX.ENGLISH_SPEC,
) -> DataFrame:
    """The reference's exact A5 shape: top-n words per industry PLUS a
    'Global' any-industry group, multi-label rows counted in every group
    they belong to (main.py:515-564).

    One-pass formulation: per row build the array of group labels
    (matched industries + 'Global'), tokenize ONCE per doc, run every
    token filter (keep-predicate, static + dynamic stopwords) on the
    single per-doc token stream, and only then explode the label array
    alongside the surviving tokens.  The regex normalize/tokenize chain
    is the dominant cost of this query; the label explode is the LAST
    step so a doc matching m industries pays the regex once, not m+1
    times (and the stopword anti-join sees the smallest possible input).
    Dynamic stopwords (U7): channel usernames anti-joined away.
    """
    from . import keywords as K

    labels = K.industry_labels(cfg)
    labeled = (
        K.classified(df, cfg, text_col, channel_col)
        .where(F.size(labels) > 0)
        .select(F.concat(labels, F.array(F.lit("Global"))).alias("labels"), text_col)
    )
    tok = labeled.select(
        "labels",
        F.explode(TX.tokenize(TX.normalize_text(F.col(text_col)))).alias("word"),
    )
    tok = tok.where(TX.token_keep_predicate(F.col("word"), spec))
    if cfg.stopwords:
        tok = tok.where(~F.lower(F.col("word")).isin(*[s.lower() for s in cfg.stopwords]))
    if channel_col:
        sw = dynamic_stopwords(df, channel_col)
        tok = tok.join(F.broadcast(sw), F.lower(tok.word) == sw.word, "left_anti")
    tok = tok.select(F.explode("labels").alias("industry"), "word")
    counted = tok.groupBy("industry", "word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("industry").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
        .orderBy("industry", "rn")
    )


def approx_top_tokens(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    max_items_tracked: int = 10_000,
    spec: TX.TokenFilterSpec = TX.ENGLISH_SPEC,
) -> DataFrame:
    """Heavy-hitters tier of word_frequency: global top-k tokens via
    Spark 4's `approx_top_k` sketch aggregate instead of the exact
    groupBy(word).count() + rank.  The sketch is fixed-size
    (`max_items_tracked` slots) and mergeable, so the shuffle carries
    ONE sketch per partition regardless of vocabulary size — at 100 TB
    the exact path shuffles O(|vocab|) partial counts per executor
    while this ships a bounded structure (the classic space-saving /
    frequent-items trade: counts are exact only while the vocabulary
    fits the tracked slots, approximate above — the standard serving
    tier for trending-terms dashboards).

    Returns (word, n, rank) ordered by rank.  Rows-only by design (a
    sketch result cannot hash-match another engine's); the pytest
    contract asserts exact agreement with `word_frequency` whenever
    |vocab| ≤ max_items_tracked (the sketch is provably exact there)
    — which holds on the fixtures.

    Ties: approx_top_k breaks count-ties by its internal order, so for
    a DETERMINISTIC result the caller keeps k strictly below any tied
    band or consumes (word, n) unordered; the test compares as a
    mapping, and rank is recomputed here with a (n desc, word) sort
    for stability."""
    toks = tokens(df, text_col, spec)
    sketch = toks.agg(
        F.expr(f"approx_top_k(word, {k}, {max_items_tracked})").alias("top")
    )
    flat = sketch.select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("word"), F.col("e.count").cast("long").alias("n")
    )
    w = Window.orderBy(F.desc("n"), "word")
    return flat.select("word", "n", F.row_number().over(w).alias("rank")).orderBy(
        "rank"
    )


def bigram_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information: top-k
    adjacent word pairs ranked by
    PMI = ln(c_xy · N / (c_x · c_y)) among pairs seen ≥ `min_count`
    times — the classic corpus-linguistics signal for multiword
    expressions, and the feature pipelines use to decide which bigrams
    deserve vocabulary slots.  Returns (w1, w2, pair_count, pmi)
    ordered by (pmi desc, w1, w2).

    Exactness: all counts are integers, the ratio is exact in double
    (products ≤ ~1e10 carry well under 53 bits), and the single ln is
    rounded to 6 decimals — the unigram_lm_scores convention that
    absorbs last-ulp libm differences between engines.

    Scale: token and bigram counts are partial-aggregatable groupBys
    (shuffle O(vocab + bigram-vocab), never the token stream);
    `min_count` prunes the bigram table BEFORE the two unigram joins;
    the unigram count table broadcasts (vocab-sized).  Adjacency comes
    from the raw normalize/tokenize stream (no stopword filter — PMI
    needs true adjacency, and filtering first would fabricate
    neighbors)."""
    toks = df.where(F.col(text_col).isNotNull()).select(
        TX.tokenize(TX.normalize_text(F.col(text_col))).alias("_toks")
    )
    # bigrams in a SEPARATE projection (lateral-alias + HOF hazard)
    pairs = toks.where(F.size("_toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                ),
            )
        ).alias("_p")
    ).select("_p.w1", "_p.w2")
    uni = (
        toks.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    n_total = pairs.agg(F.count(F.lit(1)).alias("_n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("wc").alias("_c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("wc").alias("_c2"))
    scored = (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count") * F.col("_n")).cast("double")
                    / (F.col("_c1") * F.col("_c2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)


def zipf_stats(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    top_n: int = 200,
    stopwords: DataFrame | list[str] | None = None,
    spec: TX.TokenFilterSpec = TX.ENGLISH_SPEC,
) -> DataFrame:
    """Zipf rank-frequency fit per group: least-squares slope/intercept
    of ln(freq) against ln(rank) over the top-`top_n` words — the
    corpus-health diagnostic an LLM-data pipeline runs per language /
    per source (natural text tracks slope ≈ −1; templated or synthetic
    spam flattens or steepens it).

    ORACLE-EXACT arithmetic (the grouped_pearson_corr recipe,
    operators/relational.py): ln values are IEEE doubles (engines agree
    to ≤1 ulp), each moment term is CAST to DECIMAL(28,12) — the
    quantization absorbs the ulp — and the decimal sums are
    order-independent, so the closed-form slope evaluates over
    bit-identical inputs everywhere; slope/intercept round to 6 dp.

    Scale shape: the rank window partitions BY GROUP (never a global
    single-partition window); the moment aggregate reduces top_n rows
    per group with map-side combine.  Corpus-sized work is exactly the
    one word-count shuffle word_frequency already pays."""
    ranked = word_frequency(
        df, group_cols, text_col, stopwords=stopwords, top_n=top_n, spec=spec
    )
    x = F.log(F.col("rn").cast("double"))
    y = F.log(F.col("cnt").cast("double"))

    def dsum(expr: F.Column, alias: str) -> F.Column:
        return F.sum(expr.cast("decimal(28,12)")).alias(alias)

    m = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_words"),
        dsum(x, "_sx"),
        dsum(y, "_sy"),
        dsum(x * y, "_sxy"),
        dsum(x * x, "_sxx"),
    )
    n = F.col("n_words").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return m.select(
        *group_cols,
        "n_words",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    ).orderBy(*group_cols)
