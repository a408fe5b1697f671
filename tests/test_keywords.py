"""Unit tests for the keyword classification pipeline (SURVEY.md §2.2).

Edge cases mirrored from the reference's behavior: NULL text never matches
(na=False parity, main.py:287), multi-label categorization (main.py:320-324),
case-insensitive channel blacklist (main.py:351), substring (not word
boundary) containment, noise anti-filter.
"""

from __future__ import annotations

import pytest

from database_per_keyword_analysis_spark.config import KeywordConfig
from database_per_keyword_analysis_spark.operators import keywords as K

CFG = KeywordConfig(
    industry_keywords={
        "Alpha": ["apple", "green pear"],
        "Beta": ["banana"],
    },
    noise_terms=["spam offer"],
    channel_blacklist=["BadChan"],
)


@pytest.fixture(scope="module")
def posts(spark):
    rows = [
        (1, "I like apple pie", "chanA", 10),
        (2, "banana and apple salad", "chanB", 20),  # multi-label
        (3, None, "chanA", 30),  # NULL text
        (4, "nothing relevant", "chanA", 40),
        (5, "apple spam offer today", "chanA", 50),  # noise
        (6, "fresh banana", "BADCHAN", 60),  # blacklisted channel, any case
        (7, "a green pear here", "chanC", 70),  # phrase keyword
        (8, "greenpear no space", "chanC", 80),  # phrase must match exactly
        (9, "pineapple juice", "chanA", 90),  # substring: contains 'apple'
    ]
    return spark.createDataFrame(rows, "post_id long, text string, channel string, views long")


def test_coarse_filter_drops_null_and_irrelevant(posts):
    out = K.coarse_keyword_filter(posts, CFG)
    ids = {r.post_id for r in out.collect()}
    assert ids == {1, 2, 5, 6, 7, 9}


def test_multilabel_flags(posts):
    out = K.categorize(posts, CFG)
    by_id = {r.post_id: (r.is_Alpha, r.is_Beta) for r in out.collect()}
    assert by_id[2] == (True, True)
    assert by_id[1] == (True, False)
    assert by_id[3] == (False, False)  # NULL text -> False, not NULL
    assert by_id[8] == (False, False)  # 'greenpear' != 'green pear'
    assert by_id[9] == (True, False)  # substring containment, by design


def test_blacklist_case_insensitive(posts):
    out = K.apply_channel_blacklist(posts, CFG, "channel")
    assert 6 not in {r.post_id for r in out.collect()}


def test_noise_filter(posts):
    out = K.apply_noise_filter(posts, CFG)
    ids = {r.post_id for r in out.collect()}
    assert 5 not in ids
    assert 3 in ids  # NULL text passes the noise filter (nothing to match)


def test_industry_counts_one_pass(posts):
    out = K.industry_counts(posts, CFG, channel_col="channel")
    got = {r.industry: r.post_count for r in out.collect()}
    # survivors of clean+coarse: 1,2,7,9 → Alpha: 1,2,7,9; Beta: 2
    assert got == {"Alpha": 4, "Beta": 1}


def test_industry_counts_empty_input(spark):
    empty = spark.createDataFrame(
        [], "post_id long, text string, channel string, views long"
    )
    out = K.industry_counts(empty, CFG, channel_col="channel")
    got = {r.industry: r.post_count for r in out.collect()}
    assert got == {"Alpha": 0, "Beta": 0}


def test_keyword_breakdown(spark, posts):
    out = K.keyword_breakdown(posts, CFG, channel_col="channel")
    got = {(r.industry, r.keyword): r.cnt for r in out.collect()}
    assert got == {
        ("Alpha", "apple"): 3,  # 1, 2, 9
        ("Alpha", "green pear"): 1,  # 7
        ("Beta", "banana"): 1,  # 2 (6 blacklisted)
    }
    # a keyword listed under two industries counts in both; a keyword
    # that is a substring of another counts on its own; NULL text and
    # zero-hit keywords produce no row
    cfg = KeywordConfig(
        industry_keywords={
            "Alpha": ["apple", "green pear", "pear"],
            "Beta": ["banana", "apple"],
            "Gamma": ["kiwi"],
        },
        noise_terms=CFG.noise_terms,
        channel_blacklist=CFG.channel_blacklist,
    )
    more = spark.createDataFrame(
        [
            (10, "pear tart", "chanD", 100),
            (11, None, "chanD", 110),
            (12, "apple and green pear", "chanD", 120),
        ],
        posts.schema,
    )
    out = K.keyword_breakdown(posts.unionByName(more), cfg, channel_col="channel")
    assert [tuple(r) for r in out.collect()] == [
        ("Alpha", "apple", 4),  # 1, 2, 9, 12
        ("Alpha", "pear", 4),  # 7, 8 ('greenpear'), 10, 12
        ("Alpha", "green pear", 2),  # 7, 12
        ("Beta", "apple", 4),  # 1, 2, 9, 12
        ("Beta", "banana", 1),  # 2
    ]


def test_regex_special_chars_in_keywords(spark):
    cfg = KeywordConfig(industry_keywords={"X": ["c++ (lang)", "a.b"]})
    df = spark.createDataFrame(
        [(1, "learn c++ (lang) now"), (2, "axb would match an unescaped dot"), (3, "a.b literal")],
        "post_id long, text string",
    )
    out = K.categorize(df, cfg)
    by_id = {r.post_id: r.is_X for r in out.collect()}
    assert by_id == {1: True, 2: False, 3: True}
