"""Unit tests for ranked retrieval (BM25), vocabulary coverage, cohort
retention, and event anomaly detection (round-4 additions)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from database_per_keyword_analysis_spark.operators import events as E
from database_per_keyword_analysis_spark.operators import scale as SC
from database_per_keyword_analysis_spark.operators import search as SRCH


def _bm25_expected(tf, dl, idf, avgdl, k1=1.2, b=0.75):
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="hash hash join x"),
            Row(doc_id=2, text="join y z"),
            Row(doc_id=3, text="a b c d"),
            Row(doc_id=4, text=None),
        ]
    )
    out = SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10)
    rows = {r.doc_id: r for r in out.collect()}
    # doc 3 matches nothing, doc 4 is null text
    assert set(rows) == {1, 2}
    n_docs, avgdl = 3.0, (4 + 3 + 4) / 3.0
    idf_hash = math.log(1 + (n_docs - 1 + 0.5) / (1 + 0.5))
    idf_join = math.log(1 + (n_docs - 2 + 0.5) / (2 + 0.5))
    exp1 = _bm25_expected(2, 4, idf_hash, avgdl) + _bm25_expected(
        1, 4, idf_join, avgdl
    )
    exp2 = _bm25_expected(1, 3, idf_join, avgdl)
    assert rows[1].n_terms == 2 and rows[2].n_terms == 1
    assert rows[1].score == round(exp1, 6)
    assert rows[2].score == round(exp2, 6)
    # ranked: doc 1 (two matching terms, one rare) above doc 2
    assert [r.doc_id for r in out.collect()] == [1, 2]


def test_bm25_tie_break_is_doc_id(spark):
    # identical docs -> identical scores; the top_k cut must be by id
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="hash join") for i in (5, 3, 9, 1)]
    )
    out = SRCH.bm25_search(docs, query_terms=("hash",), top_k=2)
    assert [r.doc_id for r in out.collect()] == [1, 3]


def test_vocab_coverage_curve(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b b c"),
            Row(doc_id=2, text="a b d"),
        ]
    )
    out = SRCH.vocab_coverage(docs, top_n=3).collect()
    # counts: a=4, b=3, c=1, d=1 (total 9); top-3 breaks the c/d tie by token
    assert [(r.rank, r.token, r.cnt) for r in out] == [
        (1, "a", 4),
        (2, "b", 3),
        (3, "c", 1),
    ]
    assert [r.coverage for r in out] == [
        round(4 / 9, 6),
        round(7 / 9, 6),
        round(8 / 9, 6),
    ]
    # coverage is monotone nondecreasing and bounded by 1
    cov = [r.coverage for r in out]
    assert cov == sorted(cov) and cov[-1] <= 1.0


def _ts(day, hour=12):
    return dt.datetime(2024, 1, day, hour)


def test_cohort_retention_hand_computed(spark):
    # 2024-01-01 is a Monday; weeks W0=Jan 1, W1=Jan 8
    events = spark.createDataFrame(
        [
            Row(event_id=1, ts=_ts(1), user_id=1, event_type="view"),
            Row(event_id=2, ts=_ts(9), user_id=1, event_type="view"),
            Row(event_id=3, ts=_ts(2), user_id=2, event_type="view"),
            Row(event_id=4, ts=_ts(8), user_id=3, event_type="view"),
        ]
    )
    out = E.cohort_retention(events).collect()
    w0, w1 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    got = {(r.cohort_week, r.week_offset): (r.n_users, r.retention) for r in out}
    # cohort W0: users 1,2 at offset 0; user 1 retained at offset 1
    # cohort W1: user 3 only
    assert got == {
        (w0, 0): (2, 1.0),
        (w0, 1): (1, 0.5),
        (w1, 0): (1, 1.0),
    }


def test_event_anomalies_flags_spike(spark):
    counts = [4, 6, 5, 4, 6, 5, 4, 6, 50]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            eid += 1
            rows.append(
                Row(event_id=eid, ts=_ts(day), user_id=1, event_type="view")
            )
    out = E.event_anomalies(spark.createDataFrame(rows)).collect()
    by_day = {r.day.day: r for r in out}
    # first three days: fewer than 3 trailing observations -> NULL
    for d in (1, 2, 3):
        assert by_day[d].zscore is None and by_day[d].is_anomaly is None
    # steady days are not anomalous
    assert by_day[8].is_anomaly is False
    # the spike day z-scores against trailing mean ~5 with small variance
    spike = by_day[9]
    assert spike.is_anomaly is True and spike.zscore > 10
    # hand-check: trailing window = days 2..8
    trail = counts[1:8]
    n = len(trail)
    mean = sum(trail) / n
    var = (sum(c * c for c in trail) - n * mean * mean) / (n - 1)
    assert spike.zscore == round((50 - mean) / math.sqrt(var), 6)


def test_event_anomalies_null_on_zero_variance(spark):
    rows = [
        Row(event_id=i * 10 + j, ts=_ts(i), user_id=1, event_type="view")
        for i in range(1, 9)
        for j in range(3)  # constant 3/day -> zero trailing variance
    ]
    out = E.event_anomalies(spark.createDataFrame(rows)).collect()
    assert all(r.zscore is None and r.is_anomaly is None for r in out[3:])


def test_encode_documents_round_trip(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a b c"),
            Row(doc_id=2, text="b oovword a"),
        ]
    )
    # counts: a=3, b=2, c=1, oovword=1 -> vocab_size=3 keeps a,b,c
    # (c beats oovword on the token tie-break)
    out = {r.doc_id: r for r in SRCH.encode_documents(docs, vocab_size=3).collect()}
    assert out[1].ids == [1, 1, 2, 3] and out[1].n_oov == 0
    assert out[2].ids == [2, 0, 1] and out[2].n_oov == 1
    assert out[2].n_tokens == 3


def test_bm25_probe_matches_in_plan_search(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="hash hash join x"),
            Row(doc_id=2, text="join y z"),
            Row(doc_id=3, text="hash a b c d join"),
        ]
    )
    SRCH.build_postings_index(docs, str(tmp_path / "idx"))
    probe = SRCH.bm25_probe(
        spark, str(tmp_path / "idx"), query_terms=("hash", "join")
    ).collect()
    direct = SRCH.bm25_search(docs, query_terms=("hash", "join")).collect()
    assert sorted(map(tuple, probe)) == sorted(map(tuple, direct))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_postings_update_matches_full_build(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                ["hash join window", "hash hash stream", "join stream x",
                 "window y z hash", "stream stream join hash", "a b c",
                 "hash window", "join join join"]
            )
        ]
    )
    first, second = docs.where("doc_id < 4"), docs.where("doc_id >= 4")
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(first, path)
    SRCH.update_postings_index(second, path)
    probe = SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    full = SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10)
    assert _rows(probe) == _rows(full)


def test_incremental_update_rejects_existing_ids(spark, tmp_path):
    import pytest as _pytest

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="hash join"), Row(doc_id=2, text="stream")]
    )
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs, path)
    with _pytest.raises(ValueError, match="already indexed"):
        SRCH.update_postings_index(docs.where("doc_id = 1"), path)


def test_compaction_preserves_results_plain_and_bucketed(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=t)
            for i, t in enumerate(
                ["hash join window", "hash hash stream", "join stream x",
                 "window y z hash", "stream stream join hash"]
            )
        ]
    )
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs.where("doc_id < 3"), path)
    SRCH.update_postings_index(docs.where("doc_id >= 3"), path)
    before = _rows(
        SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    )
    SRCH.compact_postings_index(spark, path)  # plain relayout
    import os

    assert not os.path.exists(f"{path}/postings__compact")
    after_plain = _rows(
        SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    )
    assert after_plain == before
    SRCH.compact_postings_index(spark, path, n_buckets=4)  # bucketed relayout
    after_bucketed = _rows(
        SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    )
    assert after_bucketed == before


def test_streaming_index_maintenance_matches_batch(spark, tmp_path):
    """run_streaming_index over a multi-file doc stream (one file per
    micro-batch) == bm25_search over the union; retries are idempotent;
    compaction converts the streamed layout to the flat base."""
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    texts = ["hash join window", "hash hash stream", "join stream x",
             "window y z hash", "stream stream join hash", "q r s"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    src = str(tmp_path / "src")
    docs.where("doc_id < 3").coalesce(1).write.mode("append").parquet(src)
    docs.where("doc_id >= 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "idx")
    ING.run_streaming_index(stream, idx, str(tmp_path / "ckpt"))
    expected = _rows(SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10))
    got = _rows(SRCH.bm25_probe(spark, idx, query_terms=("hash", "join"), top_k=10))
    assert got == expected

    # retry idempotence: re-running a batch id with ITS original input
    # set (read back from the index partition — file-to-batch assignment
    # order is the checkpoint's, not ours to assume) rewrites identical
    # state
    b1_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{idx}/doclens/batch=1").collect()
    ]
    ING.index_batch(docs.where(docs.doc_id.isin(b1_ids)), 1, idx)
    assert _rows(
        SRCH.bm25_probe(spark, idx, query_terms=("hash", "join"), top_k=10)
    ) == expected

    # compact the batch-partitioned layout to the flat base, then a
    # batch-mode incremental append still composes
    SRCH.compact_postings_index(spark, idx)
    assert _rows(
        SRCH.bm25_probe(spark, idx, query_terms=("hash", "join"), top_k=10)
    ) == expected
    more = spark.createDataFrame([Row(doc_id=100, text="hash hash hash")])
    SRCH.update_postings_index(more, idx)
    full = _rows(
        SRCH.bm25_search(
            docs.unionByName(more), query_terms=("hash", "join"), top_k=10
        )
    )
    assert _rows(
        SRCH.bm25_probe(spark, idx, query_terms=("hash", "join"), top_k=10)
    ) == full


_INDEX_TEXTS = [
    "hash join window", "hash hash stream", "join stream x",
    "window y z hash", "stream stream join hash", "a b c",
    "hash window", "join join join",
]


def _index_docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(_INDEX_TEXTS)]
    )


def test_update_rejects_bucketed_index(spark, tmp_path):
    """A bucketed index is rebuild-only: appended files would not carry
    its bucket layout, so the bucketed probe would miss them while
    scoring against the grown doclens.  The refused append leaves the
    index as built."""
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs.where("doc_id < 4"), path, n_buckets=4)
    with pytest.raises(ValueError, match="bucketed"):
        SRCH.update_postings_index(docs.where("doc_id >= 4"), path)
    built = SRCH.bm25_search(
        docs.where("doc_id < 4"), query_terms=("hash", "join"), top_k=10
    )
    assert _rows(
        SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    ) == _rows(built)


def test_bucketed_probe_reads_its_layout_from_the_manifest(
    spark, tmp_path, monkeypatch
):
    """The manifest records n_buckets, so a session whose catalog never
    saw the build probes the bucketed layout with no layout argument
    and returns bm25_search's rows."""
    monkeypatch.setattr(SC, "DRIVER_PROBE_MAX_BYTES", 0)  # the Spark plan
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs, path, n_buckets=8)
    assert SRCH._read_manifest(spark, path)["n_buckets"] == 8
    table = SC._index_table_name(f"{path}/postings")
    spark.sql(f"DROP TABLE IF EXISTS {table}")  # a catalog that never saw it
    probe = SRCH.bm25_probe(spark, path, query_terms=("hash", "join"), top_k=10)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:2000]
    full = SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10)
    assert _rows(probe) == _rows(full)


def test_index_batch_retry_after_a_fault_matches_the_no_fault_run(
    spark, tmp_path, monkeypatch
):
    """The index writer fails once — after the postings write, then
    after the doclens write — before the manifest.  The previous
    manifest survives the fault, and retrying the batch leaves the same
    manifest and probe rows as a run without the fault."""
    from pyspark.sql.readwriter import DataFrameWriter

    from database_per_keyword_analysis_spark.streaming import ingest as ING

    docs = _index_docs(spark)
    first, second = docs.where("doc_id < 4"), docs.where("doc_id >= 4")

    def state(path):
        probe = SRCH.bm25_probe(
            spark, path, query_terms=("hash", "join"), top_k=10
        )
        return SRCH._read_manifest(spark, path)["n_docs"], _rows(probe)

    ref = str(tmp_path / "no_fault")
    ING.index_batch(first, 0, ref)
    ING.index_batch(second, 1, ref)
    expected = state(ref)
    assert expected[0] == len(_INDEX_TEXTS)

    write = DataFrameWriter.parquet
    for next_part in ("doclens", "stats"):
        path = str(tmp_path / f"fault_before_{next_part}")
        ING.index_batch(first, 0, path)
        armed = [True]

        def failing(self, target, *args, _path=path, _part=next_part, **kw):
            if armed[0] and target.startswith(f"{_path}/{_part}"):
                armed[0] = False
                raise RuntimeError(f"injected fault before {_part}")
            return write(self, target, *args, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", failing)
        with pytest.raises(RuntimeError, match="injected fault"):
            ING.index_batch(second, 1, path)
        assert SRCH._read_manifest(spark, path)["n_docs"] == 4
        ING.index_batch(second, 1, path)  # the retry
        monkeypatch.setattr(DataFrameWriter, "parquet", write)
        assert state(path) == expected, next_part


def _probe(spark, path, terms=("hash", "join")):
    return SRCH.bm25_probe(spark, path, query_terms=terms, top_k=10)


def test_an_index_of_the_older_format_raises(spark, tmp_path):
    """An index written before postings carried dl has postings
    (doc_id, token, tf) and a manifest with no format.  Probing,
    updating, compacting or extending it raises ValueError instead of
    scoring with a NULL dl."""
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    docs = _index_docs(spark)
    path = str(tmp_path / "old")
    tf = (
        SRCH._tokens(docs.where("doc_id < 4"), "text", "doc_id")
        .groupBy("doc_id", "token")
        .count()
        .withColumnRenamed("count", "tf")
    )
    tf.write.parquet(f"{path}/postings")
    tf.groupBy("doc_id").agg({"tf": "sum"}).toDF("doc_id", "dl").write.parquet(
        f"{path}/doclens"
    )
    spark.createDataFrame(
        [(4.0, 3.0, None)], "n_docs DOUBLE, avgdl DOUBLE, n_buckets INT"
    ).write.parquet(f"{path}/stats")
    with pytest.raises(ValueError, match="older format"):
        _probe(spark, path).collect()
    with pytest.raises(ValueError, match="older format"):
        SRCH.update_postings_index(docs.where("doc_id >= 4"), path)
    with pytest.raises(ValueError, match="older format"):
        SRCH.compact_postings_index(spark, path)
    with pytest.raises(ValueError, match="older format"):
        ING.index_batch(docs.where("doc_id >= 4"), 1, path)


@pytest.mark.parametrize("next_part", ["doclens", "stats"])
def test_a_rebuild_that_fails_before_its_manifest_leaves_no_index(
    spark, tmp_path, monkeypatch, next_part
):
    """A rebuild over an existing index deletes the old manifest before
    it writes postings.  Failing after the postings write leaves no
    index, not the old manifest over new postings, and the retried
    rebuild equals a rebuild with no fault."""
    from pyspark.sql.readwriter import DataFrameWriter

    docs = _index_docs(spark)
    ref = str(tmp_path / "no_fault")
    SRCH.build_postings_index(docs, ref)
    expected = SRCH._read_manifest(spark, ref)["n_docs"], _rows(_probe(spark, ref))

    path = str(tmp_path / "fault")
    SRCH.build_postings_index(docs.where("doc_id < 4"), path)
    assert _probe(spark, path).count() > 0  # the old manifest, cached
    write = DataFrameWriter.parquet

    def failing(self, target, *args, **kw):
        if target.startswith(f"{path}/{next_part}"):
            raise RuntimeError(f"injected fault before {next_part}")
        return write(self, target, *args, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected fault"):
        SRCH.build_postings_index(docs, path)
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    with pytest.raises(FileNotFoundError):
        _probe(spark, path)
    SRCH.build_postings_index(docs, path)  # the retry
    got = SRCH._read_manifest(spark, path)["n_docs"], _rows(_probe(spark, path))
    assert got == expected


@pytest.mark.parametrize("n_buckets", [None, 8])
def test_a_warm_bm25_probe_runs_at_most_three_jobs(
    spark, tmp_path, count_jobs, monkeypatch, n_buckets
):
    """The manifest is read once per commit and the postings carry dl,
    so a warm probe runs only its own stages: no manifest read, no
    doclens join, no idf aggregate."""
    monkeypatch.setattr(SC, "DRIVER_PROBE_MAX_BYTES", 0)  # the Spark plan
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs, path, n_buckets=n_buckets)
    _probe(spark, path).collect()
    assert count_jobs(lambda: _probe(spark, path).collect()) <= 3


def test_a_probe_after_index_batch_sees_the_new_commit(spark, tmp_path):
    """The manifest cache is keyed on the manifest's file listing, so a
    probe after the next batch sees its n_docs and its fresh term."""
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    docs = _index_docs(spark)
    fresh = spark.createDataFrame([Row(doc_id=100, text="zebra hash")])
    path = str(tmp_path / "idx")
    ING.index_batch(docs.where("doc_id < 4"), 0, path)
    assert _probe(spark, path, ("zebra",)).count() == 0
    assert SRCH._read_manifest(spark, path)["n_docs"] == 4
    ING.index_batch(docs.where("doc_id >= 4").unionByName(fresh), 1, path)
    assert SRCH._read_manifest(spark, path)["n_docs"] == len(_INDEX_TEXTS) + 1
    assert [r.doc_id for r in _probe(spark, path, ("zebra",)).collect()] == [100]
    full = SRCH.bm25_search(
        docs.unionByName(fresh), query_terms=("hash", "join"), top_k=10
    )
    assert _rows(_probe(spark, path)) == _rows(full)


def test_a_rebuild_in_another_layout_opens_that_layout(
    spark, tmp_path, monkeypatch
):
    """A plain index probed (its manifest cached), then rebuilt bucketed
    at the same path: the next probe opens the bucketed layout."""
    monkeypatch.setattr(SC, "DRIVER_PROBE_MAX_BYTES", 0)  # the Spark plan
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs.where("doc_id < 4"), path)
    assert SRCH._read_manifest(spark, path)["n_buckets"] is None
    _probe(spark, path).collect()
    SRCH.build_postings_index(docs, path, n_buckets=8)
    probe = _probe(spark, path)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:2000]
    full = SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10)
    assert _rows(probe) == _rows(full)


@pytest.mark.parametrize("n_buckets", [None, 8])
def test_a_warm_driver_path_probe_runs_no_job(
    spark, tmp_path, count_jobs, n_buckets
):
    """Small local postings are scored on the driver into a local
    frame: a warm probe, collected, runs no Spark job."""
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs, path, n_buckets=n_buckets)
    _probe(spark, path).collect()
    assert count_jobs(lambda: _probe(spark, path).collect()) == 0


def test_the_driver_path_raises_what_the_spark_path_raises(
    spark, tmp_path, monkeypatch
):
    """The manifest is read before a path is picked, so a missing index
    and one of the older format raise as they do on the Spark path."""
    monkeypatch.setattr(SC, "DRIVER_PROBE_MAX_BYTES", 1 << 40)
    with pytest.raises(FileNotFoundError):
        _probe(spark, str(tmp_path / "none"))
    docs = _index_docs(spark)
    path = str(tmp_path / "old")
    SRCH.build_postings_index(docs, path)
    spark.createDataFrame(
        [(8.0, 3.0, None)], "n_docs DOUBLE, avgdl DOUBLE, n_buckets INT"
    ).write.mode("overwrite").parquet(f"{path}/stats")
    with pytest.raises(ValueError, match="older format"):
        _probe(spark, path)


def test_postings_off_the_local_filesystem_take_the_spark_plan(
    spark, tmp_path, hdfs_scheme
):
    """The gate asks Hadoop which filesystem holds the postings: on any
    but the local one the probe runs the Spark plan, however small."""
    docs = _index_docs(spark)
    path = str(tmp_path / "idx")
    SRCH.build_postings_index(docs, path)
    probe = _probe(spark, path)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" in plan and "LocalTableScan" not in plan, plan
    full = SRCH.bm25_search(docs, query_terms=("hash", "join"), top_k=10)
    assert probe.collect() == full.collect()


_WORDS = st.lists(st.sampled_from("abcde"), min_size=1, max_size=6)


@pytest.mark.parametrize("layout", ["plain", "bucketed", "index_batch"])
@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(_WORDS, min_size=1, max_size=8),
    terms=st.lists(st.sampled_from(["a", "b", "c", "zz"]), min_size=1,
                   max_size=4),
    top_k=st.sampled_from([1, 3, 5, 15]),
)
def test_the_driver_path_equals_the_spark_path(
    spark, tmp_path_factory, layout, texts, terms, top_k
):
    """Every doc has a twin under another id, so each score appears at
    least twice and an odd top_k cuts through a tie.  Query terms may
    repeat or be absent ("zz"); a query of absent terms alone gives an
    empty frame.  Both paths return the same rows in the same order
    with the same schema."""
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    n = len(texts)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(texts)]
        + [Row(doc_id=100 + i, text=" ".join(w)) for i, w in enumerate(texts)]
    )
    path = str(tmp_path_factory.mktemp("idx"))
    if layout == "index_batch":
        ING.index_batch(docs.where(f"doc_id < {n}"), 0, path)
        ING.index_batch(docs.where(f"doc_id >= {n}"), 1, path)
    else:
        SRCH.build_postings_index(
            docs, path, n_buckets=8 if layout == "bucketed" else None
        )
    for query in (tuple(terms), ("zz",)):
        driver = SRCH.bm25_probe(spark, path, query, top_k=top_k)
        plan = driver._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(SC, "DRIVER_PROBE_MAX_BYTES", 0)
            plan_rows = SRCH.bm25_probe(spark, path, query, top_k=top_k)
            assert driver.schema == plan_rows.schema
            assert driver.collect() == plan_rows.collect(), query


def test_hybrid_rrf_hand_computed(spark):
    # round 7: RRF fusion over a corpus small enough to rank by hand
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="hash hash"),
            Row(doc_id=2, text="join"),
            Row(doc_id=3, text="nothing here"),
            Row(doc_id=4, text="hash join"),
        ]
    )
    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),  # the query vector
            Row(vec_id=1, embedding=[0.0, 1.0]),  # cos 0
            Row(vec_id=2, embedding=[1.0, 0.01]),  # cos ~1
            Row(vec_id=3, embedding=[1.0, 1.0]),  # cos ~.707
            Row(vec_id=4, embedding=[-1.0, 0.0]),  # cos -1
        ]
    )
    out = SRCH.hybrid_search_rrf(
        docs, vecs, query_terms=("hash", "join"), top_k=10
    )
    rows = {r.doc_id: r for r in out.collect()}
    # all 4 docs retrieved by at least one side; query vec_id=0 excluded
    assert sorted(rows) == [1, 2, 3, 4]
    # dense ranking by cosine to [1,0], ties impossible here
    assert [rows[i].dense_rank for i in (2, 3, 1, 4)] == [1, 2, 3, 4]
    # doc 3 matches no query term: NULL sparse rank, dense-only score
    assert rows[3].sparse_rank is None
    # sparse ranking recomputed from the BM25 formula itself
    avgdl, n_docs, df = 7 / 4, 4.0, {"hash": 2.0, "join": 2.0}
    idf = {t: math.log(1 + (n_docs - d + 0.5) / (d + 0.5)) for t, d in df.items()}
    score = {
        1: round(_bm25_expected(2, 2, idf["hash"], avgdl), 6),
        2: round(_bm25_expected(1, 1, idf["join"], avgdl), 6),
        4: round(
            _bm25_expected(1, 2, idf["hash"], avgdl)
            + _bm25_expected(1, 2, idf["join"], avgdl),
            6,
        ),
    }
    for rank, d in enumerate(
        sorted(score, key=lambda d: (-score[d], d)), start=1
    ):
        assert rows[d].sparse_rank == rank
    # the fused score is exactly the RRF sum of the reported ranks
    for r in rows.values():
        exp = round(
            (1.0 / (60 + r.sparse_rank) if r.sparse_rank else 0.0)
            + (1.0 / (60 + r.dense_rank) if r.dense_rank else 0.0),
            6,
        )
        assert abs(r.rrf_score - exp) < 1e-12
    # ordered by fused score desc, doc_id tiebreak
    got = [r.doc_id for r in out.collect()]
    assert got == sorted(
        rows, key=lambda d: (-rows[d].rrf_score, d)
    )


def test_hybrid_rrf_respects_side_and_output_limits(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="hash join " * (i + 1)) for i in range(12)]
    )
    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, float(i)]) for i in range(12)]
    )
    out = SRCH.hybrid_search_rrf(
        docs, vecs, query_terms=("hash",), per_side=3, top_k=4
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r.sparse_rank is None or r.sparse_rank <= 3
        assert r.dense_rank is None or r.dense_rank <= 3


def test_phrase_search_contracts(spark):
    """r10 positional-phrase contracts: consecutive-position matches
    only (scrambled word order and gapped words do NOT match),
    overlapping occurrences each count, case/whitespace normalize,
    empty phrase rejected."""
    import pytest as _pytest

    from database_per_keyword_analysis_spark.operators.search import (
        phrase_search,
    )

    rows = [
        (1, "big data merge big data merge"),  # 2 occurrences
        (2, "data big merge"),  # scrambled: no match
        (3, "big fast data merge"),  # gapped: no match
        (4, "BIG   Data merge"),  # case + runs of whitespace: match
        (5, None),
        (6, "a a a a"),  # overlapping self-phrase below
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n_occurrences for r in phrase_search(df, "big data merge").collect()}
    assert out == {1: 2, 4: 1}
    # overlapping occurrences: 'a a' appears 3x in 'a a a a'
    out2 = {r.doc_id: r.n_occurrences for r in phrase_search(df, "a a").collect()}
    assert out2[6] == 3
    with _pytest.raises(ValueError):
        phrase_search(df, "   ")


def test_phrase_oracle_sql_is_built_from_the_shared_constant():
    """r10 advice item 4: the DuckDB oracle for phrase_search derives
    its per-position conjuncts from PHRASE_QUERY — editing the phrase
    can never desynchronize plan and oracle."""
    from database_per_keyword_analysis_spark.catalog import (
        PHRASE_QUERY,
        _phrase_oracle_sql,
        oracle_sql,
    )

    assert oracle_sql()["phrase_search"] == _phrase_oracle_sql(PHRASE_QUERY)
    sql = _phrase_oracle_sql("alpha beta")
    assert "t[i] = 'alpha' AND t[i+1] = 'beta'" in sql
    assert "len(t) - 1" in sql  # k-1 window bound for a 2-term phrase
    # and the registered phrase's own terms appear positionally
    live = _phrase_oracle_sql(PHRASE_QUERY)
    for k, term in enumerate(PHRASE_QUERY.split()):
        assert (f"t[i+{k}] = '{term}'" if k else f"t[i] = '{term}'") in live


def test_boolean_search_contracts(spark):
    """r11 boolean retrieval contracts: AND requires every must term,
    OR requires at least one any_of (with the match count reported),
    NOT excludes, term repetition within a doc counts once, and the
    validation rejects empty/contradictory queries."""
    import pytest as _pytest

    from database_per_keyword_analysis_spark.operators.search import (
        boolean_search,
    )

    rows = [
        (1, "data stream hash"),          # must+any: match, n_any 1
        (2, "data stream hash table"),    # n_any 2
        (3, "data hash table"),           # missing 'stream': out
        (4, "data stream hash batch"),    # NOT term present: out
        (5, "data stream data stream"),   # no any_of term: out
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.n_any
        for r in boolean_search(
            df, ("data", "stream"), ("hash", "table"), ("batch",)
        ).collect()
    }
    assert out == {1: 1, 2: 2}
    # no any_of: pure AND NOT, n_any pinned to 0
    out2 = {
        r.doc_id: r.n_any
        for r in boolean_search(df, ("data", "stream"), (), ("batch",)).collect()
    }
    assert out2 == {1: 0, 2: 0, 5: 0}
    with _pytest.raises(ValueError, match="must-term"):
        boolean_search(df, ())
    with _pytest.raises(ValueError, match="required and excluded"):
        boolean_search(df, ("data",), (), ("data",))
