"""Lifecycle contract for materialized query intermediates (r14
verdict item 2): persist() entries registered during query
construction must be releasable, and a long session that releases
after each query keeps the CacheManager bounded — the measured
failure mode was ~30% planner drag from 12 accumulated entries
(OPTIMIZATION_r14.md)."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_per_keyword_analysis_spark import materialize as M
from database_per_keyword_analysis_spark.operators import graph as G


def _n_cached(spark) -> int:
    """Entries currently registered in Catalyst's CacheManager."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_track_returns_df_and_registers(spark):
    df = spark.range(5).persist()
    before = M.n_tracked()
    out = M.track(df)
    assert out is df
    assert M.n_tracked() == before + 1
    M.release_materialized()
    assert M.n_tracked() == 0


def test_release_unpersists_and_result_recomputes(spark):
    spark.catalog.clearCache()
    M.release_materialized()
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")],
        "src string, dst string",
    )
    df = G.pagerank_fixed(edges, iters=1)
    want = sorted(tuple(r) for r in df.collect())
    assert M.n_tracked() >= 1  # the DISK_ONLY edge persist registered
    assert _n_cached(spark) >= 1
    released = M.release_materialized()
    assert released >= 1
    assert _n_cached(spark) == 0
    # the returned DataFrame stays valid: consuming it again silently
    # recomputes from its inputs with identical results
    assert sorted(tuple(r) for r in df.collect()) == want


def test_min_cost_supplier_materialized_equals_lazy(spark, sf_dir):
    # r15 scale gate: the checkpointed-offers arm (sf1 regime) must be
    # bit-equal to the lazy arm (sf0.1 regime) — the gate only moves
    # WHEN the aggregate materializes, never what it computes
    from database_per_keyword_analysis_spark.operators import relational as R
    from database_per_keyword_analysis_spark.sources.loader import load

    args = [
        load(spark, sf_dir, t)
        for t in ("lineitem", "supplier", "nation", "region", "part")
    ]
    lazy = sorted(tuple(r) for r in R.min_cost_supplier(*args).collect())
    mat = sorted(
        tuple(r)
        for r in R.min_cost_supplier(*args, materialize_offers=True).collect()
    )
    assert mat == lazy


def test_token_js_matrix_materialized_equals_lazy(spark, sf_dir):
    from database_per_keyword_analysis_spark.operators import textquality as TQ
    from database_per_keyword_analysis_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents")
    lazy = sorted(tuple(r) for r in TQ.token_js_matrix(docs).collect())
    mat = sorted(
        tuple(r)
        for r in TQ.token_js_matrix(docs, materialize_counts=True).collect()
    )
    assert mat == lazy


def test_cache_entries_bounded_across_50_sequential_invocations(spark):
    """The long-session story: 50 sequential persist-using query
    constructions, each released when its consumer finishes — the
    CacheManager never grows past one query's own entries."""
    spark.catalog.clearCache()
    M.release_materialized()
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y"), ("c", "z")],
        "src string, dst string",
    )
    peak = 0
    for i in range(50):
        df = G.pagerank_fixed(edges, iters=1)
        df.agg(F.sum("rank")).collect()  # the consumer finishes
        peak = max(peak, _n_cached(spark))
        M.release_materialized()
        assert _n_cached(spark) == 0, f"cache leaked at invocation {i}"
    # one invocation registers exactly its own bounded set (the edge
    # persist), never an accumulating backlog
    assert 1 <= peak <= 4


def test_registry_concurrent_track_and_release_loses_nothing():
    """Four threads track while four release: no call raises, every
    tracked entry is released exactly once (by some release call or the
    final one), and the release counts add up to what was tracked."""
    import sys
    import threading
    import time

    class Entry:
        def __init__(self):
            self.released = 0

        def unpersist(self):
            time.sleep(0.0001)  # let the other threads interleave
            self.released += 1

    M.release_materialized()
    entries = [Entry() for _ in range(4 * 250)]
    counts, errors = [], []

    def tracker(part):
        try:
            for e in part:
                M.track(e)
        except Exception as exc:  # pragma: no cover - the failure mode
            errors.append(exc)

    def releaser():
        try:
            for _ in range(10):
                counts.append(M.release_materialized())
        except Exception as exc:  # pragma: no cover - the failure mode
            errors.append(exc)

    threads = [threading.Thread(target=tracker, args=(entries[i::4],)) for i in range(4)]
    threads += [threading.Thread(target=releaser) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    counts.append(M.release_materialized())
    assert errors == []
    assert M.n_tracked() == 0
    assert [e.released for e in entries] == [1] * len(entries)
    assert sum(counts) == len(entries)


def test_size_gate_reads_nested_partitioned_layout(spark, sf_dir, tmp_path, monkeypatch):
    """The scale gates size their input from the files the scan reads,
    so a partitioned table (data files one directory down, as in any
    partitioned or object-store layout) reports all of its data bytes.
    Checked through source_token_js_matrix's materialization gate with
    the threshold lowered to exactly those bytes: a probe that sees
    only the top-level files (a marker and its checksum) stays below."""
    import os

    from database_per_keyword_analysis_spark import catalog
    from database_per_keyword_analysis_spark.sources.loader import load

    table = tmp_path / "documents.parquet"
    load(spark, sf_dir, "documents").write.partitionBy("lang").parquet(str(table))
    data_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(table)
        for f in files
        if f.endswith(".parquet")
    )
    assert data_bytes > 0
    seen = {}

    def fake_js_matrix(docs, materialize_counts=False):
        seen["materialize_counts"] = materialize_counts
        return docs

    monkeypatch.setattr(catalog, "_MATERIALIZE_DOCS_MIN_BYTES", data_bytes)
    monkeypatch.setattr(catalog.TQ, "token_js_matrix", fake_js_matrix)
    catalog.q_source_token_js_matrix(spark, str(tmp_path))
    assert seen == {"materialize_counts": True}
