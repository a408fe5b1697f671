"""The session factory's engine defaults, checked by their effect."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from database_per_keyword_analysis_spark.config import KeywordConfig
from database_per_keyword_analysis_spark.functions import timeutil
from database_per_keyword_analysis_spark.operators import keywords, stats, wordfreq
from database_per_keyword_analysis_spark.sources import loader

CFG = KeywordConfig(
    industry_keywords={
        "Steel": ["steel", "iron ore", "alloy"],
        "Water": ["water", "pipeline", "dam"],
        "Energy": ["solar", "grid", "crude oil"],
        "Retail": ["store", "basket", "discount"],
        "Health": ["clinic", "vaccine", "nurse"],
    },
    noise_terms=["football", "lottery"],
    channel_blacklist=["SpamChan"],
    stopwords=["the", "a", "of"],
)


@pytest.fixture(scope="module")
def posts_dir(spark, tmp_path_factory):
    rng = random.Random(11)
    vocab = ["the", "a", "of", "market", "price", "news", "today", "report"]
    words = vocab + CFG.all_keywords + CFG.noise_terms
    channels = [f"chan{i}" for i in range(12)] + ["spamchan"]
    t0 = dt.datetime(2023, 1, 1)
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randrange(5, 15)))
        for _ in range(600)
    ]
    rows = [
        (
            i,
            text,
            "en",
            rng.choice(channels),
            len(text),
            rng.randrange(1, 5000),
            t0 + dt.timedelta(minutes=rng.randrange(0, 525_600)),
        )
        for i, text in enumerate(texts)
    ]
    out = str(tmp_path_factory.mktemp("posts") / "documents.parquet")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long, "
        "views long, ts timestamp",
    ).repartition(4).write.parquet(out)
    return out.rsplit("/", 1)[0]


def _report(spark, root):
    """The paper's whole keyword report, every piece collected."""
    df = loader.load(spark, root, "documents", parallel=True)
    keywords.industry_counts(df, CFG, channel_col="source").collect()
    keywords.keyword_breakdown(df, CFG, channel_col="source").collect()
    rep = stats.stats_report(df, CFG, channel_col="source", views_col="views", id_col="doc_id")
    for piece in rep.values():
        piece["top_posts"].collect()
        piece["top_channels"].collect()
    stats.channel_audit(df, "source", "views", "doc_id").collect()
    for unit in timeutil.UNITS:
        timeutil.bucketed_counts(df, "ts", unit).collect()
    wordfreq.word_frequency_by_industry(df, CFG, channel_col="source").collect()


def test_a_warm_keyword_report_compiles_no_generated_classes(spark, posts_dir):
    """The report's generated classes (over 100 of them, beyond Spark's
    default cache of 100) stay in the code-generation cache, so running
    the report again compiles nothing."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()
    _report(spark, posts_dir)
    first = compiled.getCount()
    _report(spark, posts_dir)
    assert compiled.getCount() - first == 0
