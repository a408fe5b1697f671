"""Golden end-to-end test (SURVEY.md §5.2.3): a fixed synthetic posts
fixture through the full keyword pipeline — counts, breakdown, top
channels, word frequency — against hand-computed expected outputs.

The fixture exercises every filter the reference applies: NULL text,
multi-label posts, blacklisted channel (case-insensitively), noise-term
disqualification, and keyword-free rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_per_keyword_analysis_spark.config import KeywordConfig
from database_per_keyword_analysis_spark.operators import keywords as K
from database_per_keyword_analysis_spark.operators import stats as S
from database_per_keyword_analysis_spark.operators import wordfreq as WF

CFG = KeywordConfig(
    industry_keywords={
        "Steel": ["steel", "iron ore"],
        "Water": ["water", "pipeline"],
    },
    noise_terms=["football"],
    channel_blacklist=["SpamChan"],
    stopwords=["the", "a"],
)

ROWS = [
    # (post_id, channel, views, text)
    (1, "alpha", 100, "the steel market is hot"),          # Steel
    (2, "alpha", 50, "water pipeline project announced"),  # Water (2 kws)
    (3, "beta", 300, "steel and water prices"),            # BOTH (multi-label)
    (4, "spamchan", 900, "steel spam offer"),              # blacklisted channel
    (5, "beta", 70, "football steel derby"),               # noise-disqualified
    (6, "gamma", 10, None),                                # NULL text
    (7, "gamma", 40, "nothing relevant here"),             # no keyword
    (8, "beta", 20, "iron ore shipment arrives"),          # Steel via kw 2
]


@pytest.fixture(scope="module")
def posts(spark):
    return spark.createDataFrame(
        ROWS, ["post_id", "channel_username", "views", "text"]
    )


def _pipeline(posts):
    return K.classified(posts, CFG, channel_col="channel_username")


def test_golden_industry_counts(posts):
    got = {
        r.industry: r.post_count
        for r in K.industry_counts(
            posts, CFG, channel_col="channel_username"
        ).collect()
    }
    # survivors: 1,2,3,8 (4 blacklisted, 5 noise, 6 null, 7 no kw)
    assert got == {"Steel": 3, "Water": 2}


def test_golden_keyword_breakdown(posts):
    got = {
        (r.industry, r.keyword): r.cnt
        for r in K.keyword_breakdown(
            posts, CFG, channel_col="channel_username"
        ).collect()
    }
    assert got == {
        ("Steel", "steel"): 2,       # posts 1, 3
        ("Steel", "iron ore"): 1,    # post 8
        ("Water", "water"): 2,       # posts 2, 3
        ("Water", "pipeline"): 1,    # post 2
    }


def test_golden_top_channels(posts):
    flagged = _pipeline(posts)
    steel = flagged.where(F.col(K.flag_col("Steel")))
    got = [
        (r.channel, r.total_views)
        for r in S.top_channels_by_views(
            steel, "channel_username", "views", 10
        ).collect()
    ]
    # beta: 300+20=320 (posts 3, 8); alpha: 100 (post 1)
    assert got == [("beta", 320), ("alpha", 100)]


def test_golden_word_frequency(posts):
    cleaned = K.clean(
        posts.where(F.col("text").isNotNull()), CFG, channel_col="channel_username"
    )
    got = {
        (r.word, r.cnt)
        for r in WF.word_frequency(
            cleaned, [], "text", stopwords=CFG.stopwords, top_n=3
        ).collect()
    }
    # top words over surviving texts 1,2,3,7,8 minus stopwords; "steel"
    # and "water" appear twice; tie at 2 broken alphabetically for rank,
    # third rank is some 1-count word — assert the two definite leaders
    leaders = {w for w, c in got if c == 2}
    assert leaders == {"steel", "water"}


def test_golden_multilabel_and_global(posts):
    flagged = _pipeline(posts)
    both = flagged.where(
        F.col(K.flag_col("Steel")) & F.col(K.flag_col("Water"))
    ).select("post_id").collect()
    assert [r.post_id for r in both] == [3]
    n_global = flagged.where(F.size(K.industry_labels(CFG)) > 0).count()
    assert n_global == 4


# ---------------------------------------------------------------------------
# Golden curation pipeline (round-4 composition): raw docs -> curate ->
# apply -> boilerplate line removal -> sequence packing, end to end.
# ---------------------------------------------------------------------------

CURATION_ROWS = [
    # (doc_id, text, source): a keeper, its exact duplicate, a short doc,
    # and two clean docs sharing a boilerplate line
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon", "s1"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon", "s1"),  # exact dup of 1
    (3, "too short", "s1"),
    (4, "COOKIE BANNER here first unique body four one two three four five "
        "six seven eight nine ten eleven twelve thirteen", "s2"),
    (5, "COOKIE BANNER here first unique body five aa bb cc dd ee ff gg hh "
        "ii jj kk ll mm", "s2"),
]


def test_golden_curation_to_packing_pipeline(spark):
    from database_per_keyword_analysis_spark.operators import curation as CUR
    from database_per_keyword_analysis_spark.operators import dedup as D

    docs = spark.createDataFrame(CURATION_ROWS, "doc_id long, text string, source string")

    # 1. curate: doc 2 dropped as exact dup (1 is the keeper), 3 too short
    verdict = CUR.curate(docs, min_tokens=5)
    v = {r.doc_id: r for r in verdict.collect()}
    assert v[1].keep and v[4].keep and v[5].keep
    assert v[2].drop_reason == "exact_duplicate"
    assert v[3].drop_reason == "too_short"

    kept = CUR.apply_curation(docs, verdict)
    assert {r.doc_id for r in kept.collect()} == {1, 4, 5}

    # 2. boilerplate line removal on the survivors (3-token pseudo-lines):
    # docs 4 and 5 share their leading chunks, which must vanish
    lined = kept.select("doc_id", D.token_line_chunks("text", 3).alias("lines"))
    cleaned = {r.doc_id: r for r in D.line_dedup(lined).collect()}
    assert cleaned[1].n_removed == 0
    assert cleaned[4].n_removed >= 1 and cleaned[5].n_removed >= 1

    # 3. pack the survivors into 8-token training sequences per source
    packed = {r.doc_id: r for r in CUR.pack_sequences(kept, seq_len=8).collect()}
    assert packed[1].start_offset == 0 and packed[1].seq_first == 0
    assert packed[1].seq_last == 2  # 20 tokens / 8 per seq
    assert packed[4].stream == "s2" and packed[4].start_offset == 0
    assert packed[5].start_offset == packed[4].n_tokens  # contiguous stream
