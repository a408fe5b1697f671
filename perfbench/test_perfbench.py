"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans as T  # noqa: E402

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "build",
    [
        lambda d, s: gen.build_posts(d, s, gen.PostsSpec(400, 3)),
        lambda d, s: gen.build_corpus(d, s, gen.CorpusSpec(400, 2)),
        lambda d, s: gen.build_embeddings(d, s, 200, 8, 4, 10),
        lambda d, s: gen.build_ingest(d, s, gen.CorpusSpec(300, 2), 2, 60),
    ],
    ids=["posts", "corpus", "embeddings", "ingest"],
)
def test_generator_is_deterministic_per_seed(tmp_path, build):
    build(str(tmp_path / "a"), 7)
    build(str(tmp_path / "b"), 7)
    build(str(tmp_path / "c"), 8)
    a, b, c = (tree_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert a != c


def test_generator_plants_what_it_reports(tmp_path):
    plan = gen.build_corpus(str(tmp_path), 3, gen.CorpusSpec(1000, 2, cluster_size=4))
    exact = len(plan["exact_copies"])
    assert plan["n_docs"] - plan["n_distinct_texts"] == exact == 50
    assert all(len(c) == 4 for c in plan["near_clusters"])
    info = gen.build_ingest(str(tmp_path / "i"), 3, gen.CorpusSpec(300, 2), 3, 100)
    for b in info["batches"]:
        assert b["n_exact_dups"] >= 5 and len(b["term_ids"]) == 2


def test_cached_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    p1 = gen.cached(str(tmp_path), "k", build)
    p2 = gen.cached(str(tmp_path), "k", build)
    assert p1 == p2 and len(calls) == 1 and os.path.exists(os.path.join(p1, "x"))


def test_p90_needs_at_least_100_samples():
    assert T.percentile([float(i) for i in range(99)], 90) is None
    assert T.percentile([float(i) for i in range(100)], 90) == 89.0
    assert T.percentile([float(i) for i in range(1000)], 99) == 989.0
    assert T.percentile([float(i) for i in range(999)], 99) is None


def test_median_is_always_reported():
    assert T.percentile([3.0], 50) == 3.0
    assert T.percentile([1.0, 2.0, 10.0, 20.0], 50) == 6.0
    assert T.percentile([], 50) is None


def test_self_time_subtracts_children_once():
    s = [
        T.Span(1, "root", "a", 0.0, 10.0),
        T.Span(2, "c1", "b", 2.0, 5.0, parent=1),
        T.Span(3, "c2", "b", 4.0, 8.0, parent=1),  # overlaps c1 (another thread)
        T.Span(4, "g", "c", 3.0, 4.0, parent=2),
    ]
    selfs = {k: T.length(v) for k, v in T.self_intervals(s).items()}
    # root: 10 s minus the union [2, 8] of its children, not their sum
    assert selfs == {1: pytest.approx(4.0), 2: pytest.approx(2.0),
                     3: pytest.approx(4.0), 4: pytest.approx(1.0)}


def test_interval_subtract_and_merge():
    assert T.merge([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert T.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert T.subtract([(0, 1)], []) == [(0, 1)]


def test_event_log_attribution_on_recorded_log():
    """A log recorded from a traced run: two spans, each with its own
    job group.  Jobs, tasks and their metrics land on the right layer,
    and driver time is span time not covered by any of its jobs."""
    with open(os.path.join(TESTDATA, "eventlog.jsonl")) as fh:
        log = T.parse_event_log(fh)
    groups = sorted({j["group"] for j in log.jobs.values()})
    sids = [T.span_id_of(g) for g in groups]
    assert all(sid is not None for sid in sids)
    starts = {sid: min(j["start"] for j in log.jobs.values() if T.span_id_of(j["group"]) == sid)
              for sid in sids}
    ends = {sid: max(j["end"] for j in log.jobs.values() if T.span_id_of(j["group"]) == sid)
            for sid in sids}
    spans = [
        T.Span(sid, f"s{sid}", T.LAYERS[k], starts[sid] / 1e3 - 0.5, ends[sid] / 1e3 + 0.25)
        for k, sid in enumerate(sids)
    ]
    m = T.layer_metrics(spans, log)
    n_jobs = {sid: sum(T.span_id_of(j["group"]) == sid for j in log.jobs.values()) for sid in sids}
    for k, sid in enumerate(sids):
        layer = T.LAYERS[k]
        assert m[f"{layer}.calls"] == 1
        assert m[f"{layer}.jobs"] == n_jobs[sid]
        assert m[f"{layer}.tasks"] > 0
        assert m[f"{layer}.task_s"] > 0
        span_s = spans[k].end - spans[k].start
        jobs = T.merge([(j["start"] / 1e3, j["end"] / 1e3) for j in log.jobs.values()
                        if T.span_id_of(j["group"]) == sid])
        assert m[f"{layer}.driver_s"] == pytest.approx(span_s - T.length(jobs))
        assert m[f"{layer}.driver_s"] >= 0.75 - 1e-9
    assert sum(m[f"{lay}.tasks"] for lay in T.LAYERS) == len(log.tasks)
    assert T.gc_seconds(log) >= 0


def test_failed_writer_step_is_counted_not_fatal():
    """A writer step that raises records no batch time: the run still
    ends with a result, and the step counts as one failed operation."""
    import workloads as W

    class Tracer:
        def request(self, rid):
            return contextlib.nullcontext()

    class Reader:
        def request(self, ctx, st, req):
            return []

        def check(self, ctx, st, outs):
            return set()

    class Writer:
        def step(self, ctx, st, i):
            raise RuntimeError("planted failure")

        def check(self, ctx, st, steps):
            return {k for k, o in enumerate(steps) if o is None}

    serve = W.ServeSearch()
    serve.reader, serve.writer = Reader(), Writer()
    ctx = W.Ctx(spark=None, tracer=Tracer(), seed=1, inputs="")
    st = {"r": {"reqs": [("bm25", ["t"])]}, "w": {"batch_ms": [], "batch_cpu": []}}
    m = serve.measure(ctx, st)
    n_reads = W.SIZES["serve_search"]["min_requests"]
    assert m.attempted == n_reads + 1
    assert m.docs == 0 and m.docs_cpu_s == 0.0
    assert serve.check(ctx, st, m) == 1


def test_per_layer_metric_names_fit_the_contract():
    names = T.per_layer_names()
    assert len(names) == len(set(names)) == 128
    assert all(len(n) <= 64 for n in names)
