"""Batch/stream parity tests (SURVEY.md §5.2.5): the same query over
read vs readStream must agree when driven with availableNow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_per_keyword_analysis_spark.sources import load
from database_per_keyword_analysis_spark.streaming import windows as SW


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    # cast NTZ → TIMESTAMP to mirror the stream reader (identical values
    # under the UTC session timezone)
    ev = load(spark, sf_dir, "events")
    return ev.withColumn("ts", ev.ts.cast("timestamp"))


@pytest.fixture(scope="module")
def stream_events(spark, sf_dir):
    return SW.read_events_stream(spark, sf_dir)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_window_parity(batch_events, stream_events):
    batch = SW.windowed_counts(batch_events)
    stream = SW.run_to_memory(SW.windowed_counts(stream_events), "t_tumble")
    cols = ["window_start", "window_end", "n"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_sliding_window_parity(batch_events, stream_events):
    batch = SW.windowed_counts(batch_events, "1 day", "6 hours")
    stream = SW.run_to_memory(
        SW.windowed_counts(stream_events, "1 day", "6 hours"), "t_slide"
    )
    cols = ["window_start", "window_end", "n"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_session_window_parity(batch_events, stream_events):
    batch = SW.session_window_counts(batch_events)
    stream = SW.run_to_memory(SW.session_window_counts(stream_events), "t_sess")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_session_matches_batch_sessionize(batch_events):
    """session_window must agree with the window-function formulation."""
    from database_per_keyword_analysis_spark.operators import events as E

    a = {
        (r.user_id, r.session_start, r.n_events)
        for r in SW.session_window_counts(batch_events).collect()
    }
    b = {
        (r.user_id, r.session_start, r.n_events)
        for r in E.sessionize(batch_events).collect()
    }
    assert a == b


def test_streaming_dedup(spark, stream_events, batch_events):
    out = SW.run_append_to_memory(SW.deduped_stream(stream_events), "t_dedup")
    assert out.count() == batch_events.select("event_id").distinct().count()


def test_watermark_gates_append_emission(spark):
    """Watermark semantics that ARE guaranteed (late-row dropping is
    best-effort and must not be asserted): append mode emits a window
    exactly once, only after the watermark passes its end, and withholds
    still-open windows at end-of-stream."""
    import os
    import shutil
    import time as _t

    scratch = "/root/repo/.scratch/test_late"
    os.makedirs(scratch, exist_ok=True)
    path = os.path.join(scratch, "stream")
    try:
        batch1 = spark.createDataFrame(
            [(1, "2024-01-01 10:05:00"), (2, "2024-01-01 12:00:00")],
            ["event_id", "ts_s"],
        ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
        batch2 = spark.createDataFrame(
            [(3, "2024-01-01 12:10:00")], ["event_id", "ts_s"]
        ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
        batch1.coalesce(1).write.parquet(os.path.join(path, "f=1"))
        batch2.coalesce(1).write.parquet(os.path.join(path, "f=2"))
        # FileStreamSource orders batches by modification time
        now = _t.time()
        for root, _, files in os.walk(path):
            for fn in files:
                full = os.path.join(root, fn)
                os.utime(full, (now - 60, now - 60) if "f=1" in root else (now, now))

        stream = (
            spark.readStream.schema("event_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(path + "/f=*")
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_wm_gate")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            (r["w"].start.strftime("%H:%M"), r.n)
            for r in spark.table("t_wm_gate").collect()
        }
        # final watermark = 12:10 - 0:30 = 11:40 → the 10:00-11:00 window
        # closed and emitted exactly once; both 12:00 windows (ends 13:00)
        # are still open and MUST be withheld
        assert rows == {("10:00", 1)}
        wm = q.recentProgress[-1]["eventTime"]["watermark"]
        assert wm.startswith("2024-01-01T11:40")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, sf_dir, batch_events):
    stream = SW.view_purchase_stream_join(SW.read_events_stream(spark, sf_dir))
    got = {
        (r.purchase_id, r.view_id)
        for r in SW.run_append_to_memory(stream, "t_ssj").collect()
    }
    want = {
        (r.purchase_id, r.view_id)
        for r in SW.view_purchase_stream_join(batch_events).collect()
    }
    assert got == want and len(want) > 0


def test_stream_static_enrichment_matches_batch(spark, sf_dir, batch_events):
    from database_per_keyword_analysis_spark.sources import load

    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    stream = SW.enriched_event_counts(
        SW.read_events_stream(spark, sf_dir), customer, nation
    )
    # stream-static inner join is STATELESS: no watermark required, and
    # the streaming plan must carry no stream-join state operator
    got = _rows(SW.run_to_memory(stream, "t_enrich"), ["n_name", "n_events"])
    want = _rows(
        SW.enriched_event_counts(batch_events, customer, nation),
        ["n_name", "n_events"],
    )
    assert got == want and len(want) > 0
    assert sum(n for _, n in got) == batch_events.count()  # inner join lossless


def test_rocksdb_state_store_parity(spark, sf_dir, batch_events):
    """The same stateful query under RocksDBStateStoreProvider (the
    at-scale provider: state on disk, changelog checkpoints) must produce
    exactly the default-provider/batch result — provider choice is a
    physical knob, never a semantic one."""
    from database_per_keyword_analysis_spark.streaming.statestore import (
        rocksdb_state_store,
    )

    with rocksdb_state_store(spark):
        stream = SW.run_to_memory(
            SW.windowed_counts(SW.read_events_stream(spark, sf_dir)), "t_rocks"
        )
        cols = ["window_start", "window_end", "n"]
        assert _rows(SW.windowed_counts(batch_events), cols) == _rows(stream, cols)
    # conf restored on exit
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "default")
        != "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )


def test_transform_with_state_counts(spark, sf_dir, batch_events):
    """transformWithStateInPandas running counts == batch groupBy counts
    (skipped where the API's python deps are absent — see module gate)."""
    from database_per_keyword_analysis_spark.streaming import transform_state as TS

    if not TS.transform_with_state_available():
        pytest.skip("google.protobuf unavailable: transformWithState gated off")
    from pyspark.sql import Window

    out = TS.run_transform_with_state(
        lambda: TS.running_type_counts(SW.read_events_stream(spark, sf_dir)),
        spark,
        "t_tws_test",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_events"))
    final = {
        (r.user_id, r.event_type): r.n_events
        for r in out.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    want = {
        (r.user_id, r.event_type): r.n
        for r in batch_events.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == want


def test_parquet_sink_exactly_once(spark, sf_dir, batch_events, tmp_path):
    """File sink + checkpoint is exactly-once across restarts: the first
    availableNow run lands every source row once; rerunning the same
    stream against the same checkpoint replays nothing (the checkpoint
    already covers all source files), so the output is unchanged."""
    from database_per_keyword_analysis_spark.streaming import sinks as SK

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    purchases = lambda df: df.where(F.col("event_type") == "purchase").select(  # noqa: E731
        "event_id", "ts", "user_id", "value"
    )
    SK.run_to_parquet(purchases(SW.read_events_stream(spark, sf_dir)), out, ckpt)
    want = purchases(batch_events).count()
    assert spark.read.parquet(out).count() == want and want > 0
    # "restart" after completion: same source, same checkpoint
    SK.run_to_parquet(purchases(SW.read_events_stream(spark, sf_dir)), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == want  # no duplicates
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in purchases(batch_events).collect()
    )


def test_stream_quality_gate_batch_parity(spark, sf_dir):
    """The streaming curation gate must produce exactly the rows its
    batch form produces over the same fixture (stateless projections —
    parity is structural, not approximate)."""
    from database_per_keyword_analysis_spark.streaming import curation as SC
    from database_per_keyword_analysis_spark.streaming import windows as SWm

    batch = SC.stream_quality_gate(load(spark, sf_dir, "documents"))
    stream = SWm.run_append_to_memory(
        SC.stream_quality_gate(SC.read_documents_stream(spark, sf_dir)),
        "t_quality_gate",
    )
    cols = batch.columns
    assert sorted(tuple(r[c] for c in cols) for r in batch.collect()) == sorted(
        tuple(r[c] for c in cols) for r in stream.collect()
    )


def test_ingest_dedup_cross_batch_and_retry(spark, tmp_path):
    """foreachBatch ingest gate (streaming/ingest.py): batch 2's copies
    of batch-1 docs must be flagged against the persisted index, and
    re-running a batch id (crash retry) must leave index and output
    byte-identical (overwrite idempotence)."""
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    import os

    os.makedirs(index)
    spark.createDataFrame(
        [], "fingerprint string, keeper_id bigint"
    ).write.mode("overwrite").parquet(os.path.join(index, "base"))

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha   BETA ")],
        ["doc_id", "text"],
    )
    ING.ingest_batch(b1, 0, index, out)
    lab1 = {
        r.doc_id: r
        for r in spark.read.parquet(f"{out}/batch=0").collect()
    }
    # within-batch dup: doc 3 normalizes to doc 1's fingerprint
    assert not lab1[1].is_duplicate and lab1[3].is_duplicate
    assert lab1[3].dup_of == 1

    # batch 2: one copy of an indexed doc, one novel doc
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "fresh text")], ["doc_id", "text"]
    )
    ING.ingest_batch(b2, 1, index, out)
    lab2 = {
        r.doc_id: r
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    }
    assert lab2[10].is_duplicate and lab2[10].dup_of == 2  # via the INDEX
    assert not lab2[11].is_duplicate

    # retry batch 1 (same id, same data): index content unchanged
    def index_rows():
        return sorted(
            map(
                tuple,
                spark.read.option("recursiveFileLookup", "true")
                .parquet(index)
                .collect(),
            )
        )

    before = index_rows()
    ING.ingest_batch(b2, 1, index, out)
    assert index_rows() == before
    lab2b = {
        r.doc_id: r
        for r in spark.read.parquet(f"{out}/batch=1").collect()
    }
    assert {k: (v.is_duplicate, v.dup_of) for k, v in lab2b.items()} == {
        k: (v.is_duplicate, v.dup_of) for k, v in lab2.items()
    }


def test_ingest_dedup_stream_end_to_end(spark, sf_dir, tmp_path):
    """run_ingest_dedup over the fixture stream equals the batch
    exact_duplicates labeling (single availableNow batch, empty index)."""
    from database_per_keyword_analysis_spark.operators import dedup as D
    from database_per_keyword_analysis_spark.sources import load
    from database_per_keyword_analysis_spark.streaming import curation as SCUR
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    ING.run_ingest_dedup(
        SCUR.read_documents_stream(spark, sf_dir),
        index_path=str(tmp_path / "idx"),
        output_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "out"))
        .select("doc_id", "fingerprint", "is_duplicate")
    )
    exp = D.exact_duplicates(load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint", "is_duplicate"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_left_join_watermark_ignores_third_type_max_ts(spark, tmp_path):
    """ADVICE r6 boundary pin: the left-outer join's NULL-extension
    cutoff is least(max view_ts, max purchase_ts) - delay, NOT the
    global max(ts).  A 'click' far in the future (the global max) must
    not advance either join watermark: the near-tail unmatched view
    stays withheld even though a global-max cutoff would include it,
    while an old unmatched view (horizon below the true cutoff) is
    NULL-extended."""
    import os

    rows = [
        # (event_id, user_id, event_type, ts)
        (100, 3, "view", "2024-01-01 00:00:00"),  # old unmatched → emit NULL-ext
        (101, 1, "view", "2024-01-01 10:00:00"),  # tail unmatched → withheld
        (102, 2, "view", "2024-01-01 10:30:00"),
        (200, 2, "purchase", "2024-01-01 11:00:00"),  # matches 102
        (900, 9, "click", "2024-01-05 00:00:00"),  # out-of-band global max
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts_s"]
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts_s AS TIMESTAMP_NTZ) AS ts",
    )
    path = str(tmp_path / "ev")
    os.makedirs(path)
    # the stream reader globs for a single FILE named events.parquet
    # (the fixture layout), so lift Spark's part file out of its dir
    staging = str(tmp_path / "staging")
    df.coalesce(1).write.parquet(staging)
    part = next(
        f for f in os.listdir(staging)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(os.path.join(staging, part), os.path.join(path, "events.parquet"))
    out = SW.run_append_to_memory(
        SW.view_purchase_stream_left_join(SW.read_events_stream(spark, path)),
        "t_left_boundary",
    )
    got = {(r.view_id, r.purchase_id) for r in out.collect()}
    # least(max view 10:30, max purchase 11:00) - 1h = 09:30.
    # view 100: horizon 02:00 < 09:30 → emitted with NULL purchase.
    # view 101: horizon 12:00 >= 09:30 → withheld (a global-max cutoff of
    #   2024-01-04 23:00 would wrongly include it).
    # view 102: matched by purchase 200 → emitted regardless of watermark.
    assert got == {(100, None), (102, 200)}


def test_stream_shuffle_scope_restores_session_default(spark):
    # round 7: the stream-scoped shuffle-partition pin must restore the
    # session default even when the stream fails to start
    from database_per_keyword_analysis_spark.streaming import windows as SW

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with SW._stream_shuffle(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            SW.STREAM_SHUFFLE_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    try:
        with SW._stream_shuffle(spark, 4):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


class TestStreamingUpsert:
    """CDC latest-wins upsert (streaming/ingest.py:upsert_batch): the
    three contracts a streaming MERGE loop must honor — batch-split
    independence, retry idempotence, partition movers."""

    def _mk(self, spark, rows):
        from datetime import datetime as DT

        return spark.createDataFrame(
            [(u, e, DT(2024, 1, d), t, v) for u, e, d, t, v in rows],
            "user_id long, event_id long, ts timestamp_ntz, "
            "event_type string, value double",
        )

    def _state(self, spark, path):
        return {
            r.user_id: (r.event_id, r.event_type)
            for r in spark.read.parquet(path).collect()
        }

    def test_latest_wins_is_batch_split_independent(self, spark, tmp_path):
        from database_per_keyword_analysis_spark.streaming import ingest as ING

        rows = [
            (1, 10, 1, "view", 1.0),
            (1, 11, 3, "purchase", 2.0),  # newest for user 1
            (2, 20, 2, "click", 3.0),
            (2, 21, 1, "view", 4.0),      # older than event 20
        ]
        args = (["user_id"], "ts", "event_id", "event_type")
        # order A: one batch with everything
        pa = str(tmp_path / "a")
        ING.upsert_batch(self._mk(spark, rows), pa, *args)
        # order B: newest rows arrive FIRST, stale ones in a later batch
        pb = str(tmp_path / "b")
        ING.upsert_batch(self._mk(spark, [rows[1], rows[2]]), pb, *args)
        ING.upsert_batch(self._mk(spark, [rows[0], rows[3]]), pb, *args)
        want = {1: (11, "purchase"), 2: (20, "click")}
        assert self._state(spark, pa) == want
        assert self._state(spark, pb) == want

    def test_retried_batch_is_noop(self, spark, tmp_path):
        from database_per_keyword_analysis_spark.streaming import ingest as ING

        p = str(tmp_path / "t")
        args = (["user_id"], "ts", "event_id", "event_type")
        b1 = self._mk(spark, [(1, 10, 1, "view", 1.0)])
        b2 = self._mk(spark, [(1, 11, 2, "purchase", 2.0)])
        ING.upsert_batch(b1, p, *args)
        ING.upsert_batch(b2, p, *args)
        before = self._state(spark, p)
        ING.upsert_batch(b2, p, *args)  # foreachBatch retry contract
        ING.upsert_batch(b1, p, *args)  # ancient replay
        assert self._state(spark, p) == before == {1: (11, "purchase")}

    def test_partition_mover_leaves_no_stale_row(self, spark, tmp_path):
        import os

        from database_per_keyword_analysis_spark.streaming import ingest as ING

        p = str(tmp_path / "t")
        args = (["user_id"], "ts", "event_id", "event_type")
        ING.upsert_batch(self._mk(spark, [(1, 10, 1, "view", 1.0)]), p, *args)
        # user 1's newest row moves partition view -> purchase
        ING.upsert_batch(
            self._mk(spark, [(1, 11, 2, "purchase", 2.0)]), p, *args
        )
        rows = spark.read.parquet(p).where("user_id = 1").collect()
        assert len(rows) == 1 and rows[0].event_type == "purchase"
        # the fully-tombstoned view partition directory is gone
        assert not os.path.isdir(os.path.join(p, "event_type=view"))


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None)
@given(
    data=st.lists(
        # (user, day, event_type_idx, value) — event_id assigned by
        # position so (ts, event_id) is always a strict total order
        st.tuples(
            st.integers(0, 4),
            st.integers(1, 9),
            st.integers(0, 2),
            st.floats(0, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
    ),
    cuts=st.lists(st.integers(1, 19), max_size=3, unique=True),
)
def test_upsert_final_state_is_batch_split_invariant(spark, tmp_path_factory, data, cuts):
    """Property (the CDC guard's contract): ANY split of ANY event
    sequence into ordered micro-batches yields the same final table as
    the single-batch apply — the per-key argmax over (ts, event_id)."""
    from datetime import datetime as DT

    from database_per_keyword_analysis_spark.streaming import ingest as ING

    types = ["view", "click", "purchase"]
    rows = [
        (u, i, DT(2024, 1, d), types[t], v)
        for i, (u, d, t, v) in enumerate(data)
    ]
    schema = (
        "user_id long, event_id long, ts timestamp_ntz, "
        "event_type string, value double"
    )
    args = (["user_id"], "ts", "event_id", "event_type")

    def apply_batches(path, batches):
        for b in batches:
            if b:
                ING.upsert_batch(spark.createDataFrame(b, schema), path, *args)

    def state(path):
        return {
            r.user_id: (r.event_id, r.event_type, r.value)
            for r in spark.read.parquet(path).collect()
        }

    base = tmp_path_factory.mktemp("upsert_prop")
    pa = str(base / "single")
    apply_batches(pa, [rows])
    bounds = sorted({c for c in cuts if c < len(rows)})
    pieces, prev = [], 0
    for c in bounds + [len(rows)]:
        pieces.append(rows[prev:c])
        prev = c
    pb = str(base / "split")
    apply_batches(pb, pieces)
    want = {}
    for u, e, ts, t, v in rows:
        if u not in want or (ts, e) > want[u][0]:
            want[u] = ((ts, e), (e, t, v))
    want = {u: s for u, (_, s) in want.items()}
    assert state(pa) == want
    assert state(pb) == want


def test_upsert_survives_checkpoint_loss(spark, tmp_path):
    """Losing the streaming checkpoint (but keeping the target table)
    forces a FULL re-drain of the source — the latest-wins guard makes
    that replay a semantic no-op, so checkpoint loss degrades to wasted
    work, never to wrong data (the property plain SCD1 would NOT have:
    source-wins replay could resurrect stale versions)."""
    import shutil

    from database_per_keyword_analysis_spark.sources import load
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    src = str(tmp_path / "src")
    events = load(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    events.repartition(3).write.parquet(src)

    def drain(ckpt):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ING.run_streaming_upsert(
            stream,
            table_path=str(tmp_path / "table"),
            checkpoint_dir=ckpt,
            keys=["user_id"],
            ts_col="ts",
            tiebreak_col="event_id",
            partition_col="event_type",
        )

    drain(str(tmp_path / "ckpt1"))
    before = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "table")).collect()
    )
    shutil.rmtree(str(tmp_path / "ckpt1"))
    drain(str(tmp_path / "ckpt2"))  # fresh checkpoint: full replay
    after = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "table")).collect()
    )
    assert after == before


def test_upsert_probe_is_key_filtered_and_clustered(spark, tmp_path):
    """Round-7 verdict item 3: the CDC version probe must be bounded by
    the batch, not the table — the probe scan carries the batch's
    pushed-down key filter, and the table's files are key-clustered
    (sorted by key) so min/max stats can prune."""
    from datetime import datetime as DT

    from database_per_keyword_analysis_spark.operators import merge as M
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    p = str(tmp_path / "t")
    args = (["user_id"], "ts", "event_id", "event_type")

    def mk(rows):
        return spark.createDataFrame(
            [(u, e, DT(2024, 1, d), t, v) for u, e, d, t, v in rows],
            "user_id long, event_id long, ts timestamp_ntz, "
            "event_type string, value double",
        )

    ING.upsert_batch(
        mk([(u, u * 10, 1, "view", 1.0) for u in range(200)]), p, *args
    )
    # the pushdown filter is a plannable IN over the batch's keys
    flt = M.batch_key_filter(mk([(1, 11, 2, "view", 2.0)]), ["user_id"])
    assert flt is not None
    plan = (
        spark.read.parquet(p)
        .where(flt)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "user_id" in plan
    # files inside each partition dir are key-sorted: every file's
    # (min, max) user_id ranges are disjoint when there are >1 files
    import pyarrow.parquet as pq
    import glob as g

    ranges = []
    for f in g.glob(f"{p}/event_type=*/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col = [
            md.row_group(i).column(j)
            for i in range(md.num_row_groups)
            for j in range(md.row_group(i).num_columns)
            if md.row_group(i).column(j).path_in_schema == "user_id"
        ]
        lo = min(c.statistics.min for c in col)
        hi = max(c.statistics.max for c in col)
        ranges.append((lo, hi))
    ranges.sort()
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2, f"overlapping key ranges {ranges}"
    # and a second batch still merges correctly through the pruned probe
    ING.upsert_batch(mk([(5, 999, 9, "purchase", 7.0)]), p, *args)
    got = {
        r.user_id: r.event_id
        for r in spark.read.parquet(p).where("user_id in (4, 5, 6)").collect()
    }
    assert got == {4: 40, 5: 999, 6: 60}


def test_upsert_cache_rebuilds_without_success_marker(spark, tmp_path, monkeypatch):
    """Round-7 advice item 1: a source split dir without Spark's
    _SUCCESS commit marker (crash mid-write) must be wiped and rebuilt,
    not trusted."""
    import os

    from database_per_keyword_analysis_spark import catalog

    sf = "/root/testdata/sf0.001"
    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(catalog.__file__))
    )
    # run once so this fixture's cache dir exists and is committed
    df1 = catalog.queries()["stream_user_latest_upsert"](spark, sf)
    want = sorted(tuple(r) for r in df1.collect())
    # derive THIS fixture's cache key via the wrapper's OWN helper —
    # globbing bases[0] picked an arbitrary sibling (e.g. the sf0.1
    # entry a bench run left behind) and the rerun below then never
    # rebuilds it (test-isolation flake found in round 14); importing
    # the helper (r14 advice item 1) means the test and the wrapper
    # can never disagree about the key formula
    base = catalog._upsert_cache_base(sf)
    assert base.startswith(os.path.join(repo, ".cache", "upsert"))
    assert os.path.isfile(os.path.join(base, "src", "_SUCCESS"))
    # simulate the crash window: marker gone, dir present, stale table
    os.remove(os.path.join(base, "src", "_SUCCESS"))
    import shutil

    shutil.rmtree(os.path.join(base, "table"), ignore_errors=True)
    df2 = catalog.queries()["stream_user_latest_upsert"](spark, sf)
    assert sorted(tuple(r) for r in df2.collect()) == want
    assert os.path.isfile(os.path.join(base, "src", "_SUCCESS"))


def test_upsert_cache_survives_a_moved_repo(spark, sf_dir, tmp_path, monkeypatch):
    """A copied repo carries its `.cache/upsert/<key>/` directory, whose
    streaming checkpoint names source files under the old root.  The
    query in the moved copy rebuilds its cache and returns the oracle's
    rows instead of failing with "Wrong basePath"."""
    import shutil

    from database_per_keyword_analysis_spark import catalog
    from tools.check_oracle import canon_rows, duck_connect

    name = "stream_user_latest_upsert"

    def run_from(repo):
        pkg = repo / "database_per_keyword_analysis_spark"
        monkeypatch.setattr(catalog, "__file__", str(pkg / "catalog.py"))
        df = catalog.queries()[name](spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    cur = duck_connect(sf_dir).execute(catalog.oracle_sql()[name])
    want = canon_rows([d[0] for d in cur.description], cur.fetchall())
    cols, rows = run_from(tmp_path / "a")
    assert canon_rows(cols, rows) == want
    shutil.move(str(tmp_path / "a"), str(tmp_path / "b"))
    cols, rows = run_from(tmp_path / "b")
    assert canon_rows(cols, rows) == want


def test_stream_pit_dimension_rewrite_contract(spark, tmp_path):
    """Round-9 (r8 verdict item 7): the streaming PIT join's
    dimension-refresh semantics, pinned.  The static side's file
    LISTING freezes at query start (contents re-read per batch), so:

    1. an in-place rewrite of the SCD2 parquet mid-stream FAILS the
       query loudly (FILE_NOT_EXIST) — never a silent stale/torn read;
    2. restarting from the same checkpoint re-lists: pending facts
       join the NEW dimension rows and already-committed batches are
       not reprocessed (exactly-once intact).
    """
    import datetime as dt
    import os

    facts_in = str(tmp_path / "facts")
    dim = str(tmp_path / "dim")
    ck = str(tmp_path / "ck")
    os.makedirs(facts_in)
    t = dt.datetime.fromisoformat
    hist_schema = (
        "k long, valid_from timestamp_ntz, valid_to timestamp_ntz, tier string"
    )
    fact_schema = "k long, fid long, fts timestamp_ntz"

    def write_dim(tier):
        spark.createDataFrame(
            [(1, t("2024-01-01"), None, tier)], hist_schema
        ).write.mode("overwrite").parquet(dim)

    def feed(fid):
        spark.createDataFrame(
            [(1, fid, t("2024-02-01"))], fact_schema
        ).write.mode("append").parquet(facts_in)

    sink = str(tmp_path / "sink")

    def start():
        facts = spark.readStream.schema(fact_schema).parquet(facts_in)
        out = SW.stream_pit_enrich(
            facts, spark.read.parquet(dim), ["k"], "fts"
        )
        return (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .start()
        )

    def sink_rows():
        return {
            (r.fid, r.tier) for r in spark.read.parquet(sink).collect()
        }

    write_dim("bronze")
    q = start()
    feed(10)
    q.processAllAvailable()
    assert sink_rows() == {(10, "bronze")}

    # in-place rewrite mid-stream -> the frozen listing points at
    # deleted files; the query must die loudly, not serve stale rows
    write_dim("gold")
    feed(11)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="FILE_NOT_EXIST"):
        q.processAllAvailable()
        q.awaitTermination()

    # restart from the same checkpoint = the refresh path: fact 11
    # (whose batch never committed) joins the NEW dimension version,
    # and fact 10's committed batch is not replayed (exactly-once)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert sink_rows() == {(10, "bronze"), (11, "gold")}


def test_mv_refresh_batch_idempotent_and_crash_safe(spark, tmp_path):
    """Round-10 streaming IVM contracts: a retried batch id is a
    no-op (the applied-batch watermark rides inside the swapped dir);
    a leftover staging dir from a crash BEFORE the swap is healed and
    the batch re-applies; a crash mid-swap (current renamed aside)
    rolls back mechanically and the fold still lands exactly once."""
    import json
    import os
    import shutil

    from database_per_keyword_analysis_spark.streaming import ingest as ING

    mv_path = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)], "id long, g string, amt double"
    )

    def partials(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amt").cast("decimal(18,6)")).alias("s"),
        )

    ING.seed_mv(partials(base), mv_path)
    changes = spark.createDataFrame(
        [(4, "insert", "b", 3.0, None, None), (1, "delete", None, None, "a", 10.0)],
        "id long, op string, g string, amt double, old_g string, old_amt double",
    )
    ING.refresh_mv_batch(changes, mv_path, ["g"], "n", {"s": "amt"}, batch_id=0)
    want = [("a", 1, 5.0), ("b", 2, 10.0)]

    def state():
        return sorted(
            (r.g, r.n, float(r.s))
            for r in ING.read_mv(spark, mv_path).collect()
        )

    assert state() == want
    # retried batch id: no-op (would double-apply otherwise)
    ING.refresh_mv_batch(changes, mv_path, ["g"], "n", {"s": "amt"}, batch_id=0)
    assert state() == want
    # crash BEFORE swap: a stale complete staging dir must be healed,
    # then the new batch applies once
    cur = os.path.join(mv_path, "current")
    shutil.copytree(cur, cur + "__tmp")
    changes2 = spark.createDataFrame(
        [(5, "insert", "a", 2.0, None, None)],
        "id long, op string, g string, amt double, old_g string, old_amt double",
    )
    ING.refresh_mv_batch(changes2, mv_path, ["g"], "n", {"s": "amt"}, batch_id=1)
    want2 = [("a", 2, 7.0), ("b", 2, 10.0)]
    assert state() == want2
    # crash MID-swap: current renamed aside (trash survives, path
    # missing) — read_mv heals it and the state is intact
    os.rename(cur, cur + "__trash")
    assert state() == want2
    assert json.load(open(os.path.join(cur, "_mv_state.json")))["last_batch"] == 1


def test_stream_mv_refresh_is_batch_split_independent(spark, tmp_path):
    """Signed partials are additive and change rows self-contained, so
    the drained MV is identical whether the changeset arrives as one
    batch or four — the property that makes streaming refresh equal
    the batch IVM result."""
    import os

    from database_per_keyword_analysis_spark.operators import merge as M
    from database_per_keyword_analysis_spark.streaming import ingest as ING

    old = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)], "id long, g string, amt double"
    )
    new = spark.createDataFrame(
        [(i, f"g{(i + 1) % 3}" if i % 5 == 0 else f"g{i % 3}", float(i) + (10.0 if i % 4 == 0 else 0.0))
         for i in range(3, 36)],
        "id long, g string, amt double",
    )

    def partials(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amt").cast("decimal(18,6)")).alias("s"),
        )

    changes = M.table_diff(old, new, ["id"], include_old=True)
    want = sorted(tuple(r) for r in partials(new).collect())
    for n_files, tag in ((1, "one"), (4, "four")):
        root = str(tmp_path / tag)
        src = os.path.join(root, "src")
        mv_path = os.path.join(root, "mv")
        ING.seed_mv(partials(old), mv_path)
        changes.repartition(n_files).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ING.run_streaming_mv_refresh(
            stream, mv_path, os.path.join(root, "ckpt"), ["g"], "n", {"s": "amt"}
        )
        got = sorted(tuple(r) for r in ING.read_mv(spark, mv_path).collect())
        assert got == want, tag


def test_stream_corpus_drift_equals_batch_monitor(spark, sf_dir):
    """r10 streaming-drift contracts: the drained stream's counts MV
    reproduces the batch monitor bit-for-bit (token counts are
    additive, so the fold is batch-split-independent), and a SECOND
    invocation (checkpoint already consumed, MV already folded) is a
    no-op returning the same report — the retried-drain idempotence
    the exactly-once seam guarantees."""
    from database_per_keyword_analysis_spark import catalog

    qs = catalog.queries()
    stream_rows = sorted(
        tuple(r) for r in qs["stream_corpus_drift"](spark, sf_dir).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in qs["corpus_drift_terms"](spark, sf_dir).collect()
    )
    assert stream_rows == batch_rows
    again = sorted(
        tuple(r) for r in qs["stream_corpus_drift"](spark, sf_dir).collect()
    )
    assert again == stream_rows


def test_stream_length_ks_equals_batch_ks(spark):
    # the stream twin must produce EXACTLY the batch query's row on
    # the same fixture — the shared-oracle stream==batch contract
    from database_per_keyword_analysis_spark import catalog

    sf = "/root/testdata/sf0.001"
    qs = catalog.queries()
    batch = qs["doc_length_ks_drift"](spark, sf).collect()
    stream = qs["stream_length_ks_drift"](spark, sf).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]
    assert catalog.oracle_sql()["doc_length_ks_drift"] == (
        catalog.oracle_sql()["stream_length_ks_drift"]
    )


def test_mutable_stream_base_sweep_rules(tmp_path):
    # r13 (r12 advice + review findings): the sibling sweep must
    # (a) age-gate legacy shared-key dirs instead of racing a possible
    # live pre-fix writer, (b) sweep dead-pid dirs AND their sibling
    # owner tokens, (c) keep a live owner, (d) sweep a dir whose pid
    # was RECYCLED (owner token mismatch), (e) REFRESH the token when
    # this process adopts a predecessor's dir (stale tick would make
    # other sweeps read a live owner as recycled), and (f) survive the
    # callers' first-run rmtree(base) reseed (the token is a SIBLING
    # file, not inside the dir)
    import os
    import shutil
    import time
    import uuid

    from database_per_keyword_analysis_spark import catalog as CAT

    family = f"testfam-{uuid.uuid4().hex[:8]}"
    stat_file = tmp_path / "stat_anchor"
    stat_file.write_text("x")
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(CAT.__file__))),
        ".cache",
        family,
    )
    try:
        os.makedirs(root)
        young_legacy = os.path.join(root, "deadbeef0000")
        old_legacy = os.path.join(root, "deadbeef0001")
        dead_pid = os.path.join(root, "deadbeef0002-p4194200")
        live_kept = os.path.join(root, "deadbeef0003-p1")
        recycled = os.path.join(root, "deadbeef0004-p1")
        for d in (young_legacy, old_legacy, dead_pid, live_kept, recycled):
            os.makedirs(d)
        with open(dead_pid + ".owner", "w") as fh:
            fh.write("12345")  # dead owner's leftover token
        stale = time.time() - 7 * 3600
        os.utime(old_legacy, (stale, stale))
        tick1 = CAT._proc_start_tick(1)
        assert tick1 is not None  # linux container: /proc exists
        with open(live_kept + ".owner", "w") as fh:
            fh.write(tick1)
        with open(recycled + ".owner", "w") as fh:
            fh.write("0")  # a PREVIOUS incarnation of pid 1
        # (e): a stale token under OUR pid, as if a dead predecessor
        # with a recycled pid left it behind — must be refreshed
        mine_stale = os.path.join(
            root, f"feedfeed0005-p{os.getpid()}"
        )
        os.makedirs(mine_stale)

        base = CAT._mutable_stream_base(family, str(tmp_path), str(stat_file))

        assert os.path.isdir(young_legacy)  # age-gated, not raced
        assert not os.path.isdir(old_legacy)  # aged out
        assert not os.path.isdir(dead_pid)  # dead owner
        assert not os.path.exists(dead_pid + ".owner")  # token swept too
        assert os.path.isdir(live_kept)  # live owner, token matches
        assert not os.path.isdir(recycled)  # pid reuse detected
        my_tick = CAT._proc_start_tick(os.getpid())
        # our own dir exists and its SIBLING token carries our tick
        with open(base + ".owner") as fh:
            assert fh.read().strip() == my_tick
        # (e) adoption refresh: write a stale tick, re-enter, refreshed
        with open(base + ".owner", "w") as fh:
            fh.write("0")
        assert CAT._mutable_stream_base(
            family, str(tmp_path), str(stat_file)
        ) == base
        with open(base + ".owner") as fh:
            assert fh.read().strip() == my_tick
        # (f) a caller's first-run reseed deletes the DIR but the
        # sibling token survives, keeping the recycle protection
        shutil.rmtree(base)
        os.makedirs(base)
        assert os.path.exists(base + ".owner")
        assert os.path.isdir(young_legacy) and os.path.isdir(live_kept)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_length_ranksum_equals_batch(spark):
    # the r13 rank-sum stream twin consumes the SAME counts MV as the
    # KS twin and must produce EXACTLY the batch query's row — the
    # shared-oracle stream==batch contract
    from database_per_keyword_analysis_spark import catalog

    sf = "/root/testdata/sf0.001"
    qs = catalog.queries()
    batch = qs["doc_length_ranksum_drift"](spark, sf).collect()
    stream = qs["stream_length_ranksum_drift"](spark, sf).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]
    assert catalog.oracle_sql()["doc_length_ranksum_drift"] == (
        catalog.oracle_sql()["stream_length_ranksum_drift"]
    )


def test_stream_cusum_equals_batch(spark):
    # the r13 CUSUM stream twin folds the (type, day) counts MV and
    # must produce EXACTLY the batch query's rows — the shared-oracle
    # stream==batch contract
    from database_per_keyword_analysis_spark import catalog

    sf = "/root/testdata/sf0.001"
    qs = catalog.queries()
    batch = qs["event_type_cusum"](spark, sf).collect()
    stream = qs["stream_event_type_cusum"](spark, sf).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]
    assert catalog.oracle_sql()["event_type_cusum"] == (
        catalog.oracle_sql()["stream_event_type_cusum"]
    )
