"""The benchmark workloads.

Each workload has these parts, which :mod:`run` calls in order:

* ``inputs(cache, seed)`` generates (or reuses) the seeded input files;
* ``build(ctx, d)`` is set-up: loading, any index builds into the fresh
  directory `d`, and any warm-up.  It returns the state the operations
  use;
* ``measure(ctx, state)`` runs the timed closed loop until
  ``ctx.deadline`` and returns a :class:`Measured`;
* ``check(ctx, state, measured)`` compares the outputs with independent
  replays and returns how many operations were wrong or failed.

Every call into a layer of the library is wrapped in
``ctx.tracer.span(layer, name)``, which records nothing unless the run
is traced.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from database_per_keyword_analysis_spark.config import KeywordConfig
from database_per_keyword_analysis_spark.functions import timeutil
from database_per_keyword_analysis_spark.operators import (
    curation, dedup, keywords, pii, search, similarity, stats, textquality,
    wordfreq,
)
from database_per_keyword_analysis_spark.sources import loader, zonemap
from database_per_keyword_analysis_spark.streaming import ingest

import gen
import oracle
import spans

# Input sizes.  Operations in this library cost seconds of fixed
# planning and job overhead each, so inputs are kept small enough that a
# run (fresh JVM, set-up, the timed operations, checks) ends in about a
# minute on a 4-core machine.
SIZES = {
    "keyword_report": {"posts": 6_000, "files": 8, "min_reports": 1},
    "serve_search": {"base": 3_000, "vectors": 3_000, "dim": 64, "posts": 4_000,
                     "post_files": 16, "batch": 300, "batches": 40,
                     "min_requests": 10, "min_steps": 1},
}
TOP_K = 10
IVF_RECALL_FLOOR = 0.8
DAY0 = dt.datetime(2023, 1, 1)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    inputs: str  # generated input directory
    release: object = None  # releases materialized intermediates
    cpu: object = time.process_time  # CPU seconds used so far; run.py adds the JVM's
    deadline: float = 0.0
    extras: dict = field(default_factory=dict)  # human-readable figures


@dataclass
class Measured:
    lat: list  # wall seconds per timed operation (requests or reports)
    cpu: list  # CPU seconds of the driver and its JVM per timed operation
    outs: list  # output per operation, None where it raised
    errors: set  # indices into `outs` of operations that raised
    docs: int  # documents processed by the operations `docs_cpu_s` covers
    docs_cpu_s: float  # CPU seconds spent processing `docs`
    attempted: int  # every operation, including the writer's steps


def _cfg(inputs: str) -> KeywordConfig:
    with open(os.path.join(inputs, "config.json")) as fh:
        return KeywordConfig(**json.load(fh))


def _glob(path: str) -> str:
    return os.path.join(path, "documents.parquet", "*.parquet")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def n_files(path: str) -> int:
    return sum(len(f) for _, _, f in os.walk(path))


def closed_loop(ctx: Ctx, op, first: int = 0, limit: int = 10**9, min_ops: int = 1,
                release: bool = True):
    """One client: call `op(i)` for i = first, first + 1, ... until the
    deadline has passed and at least `min_ops` calls are done.  Returns
    (latencies, CPU seconds, outputs, errors); `errors` holds the
    positions of calls that raised."""
    lat, cpu, outs, errors = [], [], [], set()
    i = first
    while (time.perf_counter() < ctx.deadline or len(lat) < min_ops) and i < limit:
        t, c = time.perf_counter(), ctx.cpu()
        try:
            with ctx.tracer.request(f"op{i}"):
                out = op(i)
        except Exception:  # a failed operation is counted, not fatal
            _log(f"operation {i} failed:\n{traceback.format_exc()}")
            out = None
            errors.add(len(outs))
        lat.append(time.perf_counter() - t)
        cpu.append(ctx.cpu() - c)
        outs.append(out)
        if release:
            ctx.release()
        i += 1
    return lat, cpu, outs, errors


def in_parallel(*fns):
    """Run each function in its own thread; return their results in
    order, re-raising the first exception any of them raised."""
    results: list = [None] * len(fns)
    failures: list = []

    def run(k, fn):
        try:
            results[k] = fn()
        except BaseException as e:  # re-raised in the calling thread below
            failures.append(e)

    threads = [threading.Thread(target=run, args=(k, fn)) for k, fn in enumerate(fns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if failures:
        raise failures[0]
    return results


# ---------------------------------------------------------------------------
# keyword_report
# ---------------------------------------------------------------------------


class KeywordReport:
    """The paper's batch pipeline: the whole keyword report over the
    generated posts, once per operation.

    Set-up runs one untimed warm-up report, so the timed reports find
    the JVM's compiled code and Spark's code-generation cache filled."""

    name = "keyword_report"
    loop = "closed, 1 client, one full report per operation, after 1 warm-up report"

    def inputs(self, cache: str, seed: int) -> str:
        s = SIZES[self.name]
        spec = gen.PostsSpec(s["posts"], s["files"])
        return gen.cached(
            cache, f"posts-{seed}-{s['posts']}", lambda d: gen.build_posts(d, seed, spec)
        )

    def build(self, ctx: Ctx, d: str):
        st = {"cfg": _cfg(ctx.inputs)}
        self.op(ctx, st)  # warm-up report
        return st

    def op(self, ctx: Ctx, st):
        cfg, tr, spark = st["cfg"], ctx.tracer, ctx.spark
        with tr.span("sources", "load"):
            df = loader.load(spark, ctx.inputs, "documents", parallel=True)
        with tr.span("operators.keywords", "industry_counts"):
            ic = [tuple(r) for r in keywords.industry_counts(df, cfg, channel_col="source").collect()]
        with tr.span("operators.keywords", "keyword_breakdown"):
            kb = [tuple(r) for r in keywords.keyword_breakdown(df, cfg, channel_col="source").collect()]
        with tr.span("operators.stats", "stats_report"):
            rep = stats.stats_report(df, cfg, channel_col="source", views_col="views", id_col="doc_id")
            counts = sorted((ind, v["count"]) for ind, v in rep.items())
            for v in rep.values():
                v["top_posts"].collect()
                v["top_channels"].collect()
        with tr.span("operators.stats", "channel_audit"):
            stats.channel_audit(df, "source", "views", "doc_id").collect()
        buckets = {}
        for unit in ("day", "week", "month"):
            with tr.span("functions.timeutil", f"bucketed_counts_{unit}"):
                buckets[unit] = sum(r["n"] for r in timeutil.bucketed_counts(df, "ts", unit).collect())
        with tr.span("operators.wordfreq", "word_frequency_by_industry"):
            wordfreq.word_frequency_by_industry(df, cfg, channel_col="source").collect()
        return {"ic": ic, "kb": kb, "counts": counts, "buckets": buckets}

    def measure(self, ctx: Ctx, st) -> Measured:
        lat, cpu, outs, errors = closed_loop(ctx, lambda i: self.op(ctx, st),
                                             min_ops=SIZES[self.name]["min_reports"])
        docs = SIZES[self.name]["posts"] * len(lat)
        return Measured(lat, cpu, outs, errors, docs, sum(cpu), len(lat))

    def check(self, ctx: Ctx, st, m: Measured) -> int:
        """Industry counts and the keyword breakdown equal a DuckDB replay;
        stats_report's counts equal them; every bucketing counts every post."""
        with open(os.path.join(ctx.inputs, "config.json")) as fh:
            cfg = json.load(fh)
        ic, kb = oracle.keyword_report(_glob(ctx.inputs), cfg)
        n = SIZES[self.name]["posts"]
        bad = set(m.errors)
        for i, o in enumerate(m.outs):
            ok = (
                o is not None
                and o["ic"] == ic
                and o["kb"] == kb
                and o["counts"] == ic
                and all(v == n for v in o["buckets"].values())
            )
            if not ok:
                bad.add(i)
        return len(bad)

    def figures(self, ctx: Ctx, st, m: Measured) -> dict:
        return {"reports": len(m.lat),
                "report_docs_per_s (wall)": round(m.docs / sum(m.lat), 2)}


# ---------------------------------------------------------------------------
# serve_search: a reader client, then an ingest (writer) client
# ---------------------------------------------------------------------------


class Reader:
    """Search requests against indexes built once in set-up: BM25 over
    the base corpus, IVF kNN over clustered vectors, and dashboard slices
    (zone-map pruned scan -> categorize -> top-k) over the posts."""

    def build(self, ctx: Ctx, root: str, d: str):
        spark = ctx.spark
        base = loader.load(spark, os.path.join(root, "ingest", "base"), "documents")
        search.build_postings_index(base, os.path.join(d, "bm25"))
        vecs = loader.load(spark, os.path.join(root, "vectors"), "embeddings")
        similarity.ivf_index(vecs, n_lists=16, index_path=os.path.join(d, "ivf"))
        posts = os.path.join(root, "posts", "documents.parquet")
        zonemap.build_zone_map(spark, posts, ["ts"]).write.parquet(os.path.join(d, "zonemap"))
        qtab = pq.read_table(os.path.join(root, "vectors", "queries.parquet"))
        return {
            "root": root,
            "bm25": os.path.join(d, "bm25"),
            "ivf": os.path.join(d, "ivf"),
            "zm": spark.read.parquet(os.path.join(d, "zonemap")),
            "posts": posts,
            "cfg": _cfg(os.path.join(root, "posts")),
            "qvecs": np.stack(qtab.column("embedding").to_numpy(zero_copy_only=False)),
            "qids": qtab.column("vec_id").to_numpy(),
            "reqs": self.requests(ctx.seed),
        }

    # request kinds repeat in this fixed order (6 BM25, 2 IVF, 2 slices
    # per 10), so every seed sends the same mix; the seed picks the terms,
    # the query vectors and the slice ranges
    KINDS = ("bm25", "ivf", "bm25", "slice", "bm25", "bm25", "ivf", "bm25", "slice", "bm25")

    def requests(self, seed: int, n: int = 600):
        """The seeded request stream: BM25 probes of 1-4 Zipf terms, IVF
        kNN for one held-out vector, and slices of 1-7 days."""
        rng = gen.rng_for(seed, "requests")
        vocab = gen.vocabulary(seed)
        terms = iter(gen.query_stream(seed, n))
        out = []
        for i in range(n):
            k = self.KINDS[i % len(self.KINDS)]
            if k == "bm25":
                out.append(("bm25", [vocab[t] for t in next(terms)]))
            elif k == "ivf":
                out.append(("ivf", int(rng.integers(0, 256))))
            else:
                ind = int(rng.integers(0, gen.N_INDUSTRIES))
                out.append(("slice", (ind, int(rng.integers(0, 358)), int(rng.integers(1, 8)))))
        return out

    def request(self, ctx: Ctx, st, req):
        tr, spark = ctx.tracer, ctx.spark
        kind, arg = req
        if kind == "bm25":
            with tr.span("operators.search", "bm25_probe"):
                rows = search.bm25_probe(spark, st["bm25"], tuple(arg), top_k=TOP_K).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if kind == "ivf":
            with tr.span("operators.similarity", "ivf_load"):
                assigned, cents = similarity.ivf_load(spark, st["ivf"])
            with tr.span("operators.similarity", "ivf_probe"):
                q = spark.createDataFrame(
                    [(int(st["qids"][arg]), [float(x) for x in st["qvecs"][arg]])],
                    "vec_id long, embedding array<float>",
                )
                rows = similarity.ivf_probe(assigned, cents, q, k=TOP_K, n_probe=4).collect()
            return [int(r["neighbor_id"]) for r in rows]
        ind, day, width = arg
        lo = DAY0 + dt.timedelta(days=day)
        hi = lo + dt.timedelta(days=width)
        with tr.span("sources", "pruned_scan"):
            df = zonemap.pruned_scan(spark, st["posts"], st["zm"], "ts", lo, hi)
        with tr.span("operators.keywords", "categorize"):
            flagged = keywords.categorize(df, st["cfg"]).where(keywords.flag_col(st["cfg"].industries[ind]))
        with tr.span("operators.stats", "top_k_by"):
            rows = stats.top_k_by(
                flagged.select("doc_id", "views"), "views", TOP_K, "doc_id"
            ).collect()
        return [(int(r["doc_id"]), int(r["views"])) for r in rows]

    def check(self, ctx: Ctx, st, outs) -> set:
        """Replay a seeded sample of BM25 and slice requests in DuckDB;
        score every IVF request's recall@k against exact search."""
        reqs, root = st["reqs"], st["root"]
        kinds = {k: [i for i, o in enumerate(outs) if o is not None and reqs[i % len(reqs)][0] == k]
                 for k in ("bm25", "ivf", "slice")}
        rng = gen.rng_for(ctx.seed, "check")

        def sample(idx, k):
            return [idx[j] for j in sorted(rng.choice(len(idx), min(k, len(idx)), replace=False))]

        bad = set()
        replay = oracle.BM25Replay([_glob(os.path.join(root, "ingest", "base"))])
        for i in sample(kinds["bm25"], 20):
            if not oracle.same_ranking(outs[i], replay.search(reqs[i % len(reqs)][1], TOP_K)):
                bad.add(i)
        replay.close()
        with open(os.path.join(root, "posts", "config.json")) as fh:
            cfg = json.load(fh)
        for i in sample(kinds["slice"], 10):
            ind, day, width = reqs[i % len(reqs)][1]
            lo = DAY0 + dt.timedelta(days=day)
            want = oracle.slice_top(
                _glob(os.path.join(root, "posts")), cfg, list(cfg["industry_keywords"])[ind],
                lo, lo + dt.timedelta(days=width), TOP_K,
            )
            if outs[i] != want:
                bad.add(i)
        vt = pq.read_table(os.path.join(root, "vectors", "embeddings.parquet"))
        X = np.stack(vt.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        ids = vt.column("vec_id").to_numpy()
        recalls = []
        for i in kinds["ivf"]:
            q = st["qvecs"][reqs[i % len(reqs)][1]].astype(np.float64)
            recalls.append(len(set(oracle.exact_knn(X, ids, q, TOP_K)) & set(outs[i])) / TOP_K)
        mean_recall = float(np.mean(recalls)) if recalls else 1.0
        ctx.extras["ivf_recall_at_10"] = round(mean_recall, 4)
        if mean_recall < IVF_RECALL_FLOOR:
            bad.update(kinds["ivf"])
        return bad


class Writer:
    """Each step ingests one arrival batch through the gate a training
    and search corpus needs, then probes its own growing index:

    exact dedup against the fingerprint index (`ingest_batch`) -> quality
    gate (`quality_metrics` + `apply_curation`) -> PII scrub
    (`redact_pii`) -> postings delta (`index_batch`) -> near-duplicate
    pairs against the band index (`incremental_near_dups`) and the
    batch's own band rows -> sequence packing of the accepted docs ->
    a BM25 probe for the term only this batch contains."""

    def build(self, ctx: Ctx, root: str, d: str):
        spark = ctx.spark
        base = loader.load(spark, os.path.join(root, "base"), "documents")
        dedup.build_fingerprint_index(base, os.path.join(d, "fp", "base"))
        ingest.index_batch(base, 0, os.path.join(d, "bm25"))
        dedup.build_minhash_band_index(base, os.path.join(d, "bands", "base"))
        with open(os.path.join(root, "ingest.json")) as fh:
            info = json.load(fh)
        return {
            "root": root,
            "d": d,
            "info": info,
            "corpus_paths": [os.path.join(root, "base", "documents.parquet")],
            "probe_ms": [],
            "batch_ms": [],
            "batch_cpu": [],
            "input_bytes": 0,
            "setup_bytes": sum(dir_bytes(os.path.join(d, x)) for x in ("fp", "bm25", "bands")),
        }

    def step(self, ctx: Ctx, st, i: int):
        spark, tr = ctx.spark, ctx.tracer
        d = st["d"]
        meta = st["info"]["batches"][i]
        bdir = os.path.join(st["root"], "batches", f"b{i:03d}")
        acc_dir = os.path.join(d, "accepted", f"batch={i}")
        t0, c0 = time.perf_counter(), ctx.cpu()
        with tr.span("sources", "load"):
            batch = loader.load(spark, bdir, "documents")
        with tr.span("streaming.ingest", "ingest_batch"):
            ingest.ingest_batch(batch, i, os.path.join(d, "fp"), os.path.join(d, "out"))
        labeled = spark.read.parquet(os.path.join(d, "out", f"batch={i}"))
        novel = batch.join(labeled.where("NOT is_duplicate").select("doc_id"), "doc_id", "left_semi")
        with tr.span("operators.textquality", "quality_metrics"):
            verdict = textquality.quality_metrics(novel).select(
                "doc_id", ((F.col("n_tokens_ws") >= 20) & (F.col("punct_ratio") <= 0.3)).alias("keep")
            )
        with tr.span("operators.curation", "apply_curation"):
            kept = curation.apply_curation(novel, verdict)
        with tr.span("operators.pii", "redact_pii"):
            pii.redact_pii(kept).join(kept.drop("text"), "doc_id").select(
                "doc_id", F.col("redacted").alias("text"), "source"
            ).write.parquet(acc_dir)
        accepted = spark.read.parquet(acc_dir)
        with tr.span("streaming.ingest", "index_batch"):
            ingest.index_batch(accepted, i + 1, os.path.join(d, "bm25"))
        corpus = spark.read.parquet(*st["corpus_paths"]).select("doc_id", "text")
        with tr.span("operators.dedup", "incremental_near_dups"):
            dedup.incremental_near_dups(accepted, corpus, os.path.join(d, "bands")).collect()
        with tr.span("operators.dedup", "build_minhash_band_index"):
            dedup.build_minhash_band_index(accepted, os.path.join(d, "bands", f"batch={i}"))
        with tr.span("operators.curation", "pack_sequences"):
            packed = curation.pack_sequences(accepted, seq_len=2048).agg(
                F.count(F.lit(1)).alias("n"), F.max("seq_last")
            ).collect()[0]
        st["corpus_paths"].append(acc_dir)
        st["batch_ms"].append((time.perf_counter() - t0) * 1e3)
        st["batch_cpu"].append(ctx.cpu() - c0)
        st["input_bytes"] += dir_bytes(os.path.join(bdir, "documents.parquet"))
        t1 = time.perf_counter()
        with tr.span("operators.search", "bm25_probe"):
            rows = search.bm25_probe(spark, os.path.join(d, "bm25"), (meta["term"],), top_k=TOP_K).collect()
        st["probe_ms"].append((time.perf_counter() - t1) * 1e3)
        found = sorted(int(r["doc_id"]) for r in rows)
        n_dup = labeled.where("is_duplicate").count()
        return {"n_dup": int(n_dup), "found": found, "accepted": int(packed["n"]),
                "new_docs": meta["n_new"]}

    def breakdown(self, ctx: Ctx, st):
        """Traced runs only: LSH candidate and verified pair counts over
        the base corpus, so the dedup layer's verify yield has a base."""
        tr = ctx.tracer
        base = loader.load(ctx.spark, os.path.join(st["root"], "base"), "documents")
        with tr.span("operators.dedup", "lsh_candidate_pairs"):
            cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(dedup.shingles(base))).count()
        with tr.span("operators.dedup", "minhash_near_dups"):
            pairs = dedup.minhash_near_dups(base).count()
        tr.count("operators.dedup.candidate_pairs", cand)
        tr.count("operators.dedup.verified_pairs", pairs)

    def figures(self, ctx: Ctx, st) -> dict:
        d = st["d"]
        dirs = ("out", "fp", "bm25", "bands", "accepted")
        grown = sum(dir_bytes(os.path.join(d, x)) for x in dirs) - st["setup_bytes"]
        p90 = spans.percentile(st["probe_ms"], 90)
        ctx.tracer.count("streaming.ingest.bytes_written_mb", grown / 1e6)
        batch_s = sum(st["batch_ms"]) / 1e3
        return {
            "ingest_steps": len(st["batch_ms"]),
            "ingest_batch_p50_ms": round(spans.percentile(st["batch_ms"], 50) or 0, 2),
            "ingest_docs_per_s": round(st["docs"] / batch_s, 2) if batch_s else 0,
            "ingest_search_p50_ms": round(spans.percentile(st["probe_ms"], 50) or 0, 2),
            "ingest_search_p90_ms": round(p90, 2) if p90 is not None else "n/a (< 100 probes)",
            "index_bytes_per_input_byte": round(grown / max(1, st["input_bytes"]), 4),
        }

    def check(self, ctx: Ctx, st, steps) -> set:
        """Per step: the exact-duplicate count equals the planted one, the
        batch's unique term finds exactly its docs, and every fresh doc
        passes the quality gate.  Overall: the index holds every accepted
        doc, and no accepted text still carries an email, phone or IP.
        Returns the failed step numbers."""
        info = st["info"]
        bad = set()
        for k, o in enumerate(steps):
            meta = info["batches"][k]
            if not (
                o is not None
                and o["n_dup"] == meta["n_exact_dups"]
                and o["found"] == meta["term_ids"]
                and o["accepted"] >= o["new_docs"]
            ):
                bad.add(k)
        ingested = info["n_base"] + sum(o["accepted"] for o in steps if o is not None)
        n_indexed = int(ctx.spark.read.parquet(os.path.join(st["d"], "bm25", "stats")).first()["n_docs"])
        leaks = oracle.pii_rows(os.path.join(st["d"], "accepted", "*", "*.parquet"))
        ctx.extras["indexed_docs"] = n_indexed
        ctx.extras["ingested_docs"] = ingested
        ctx.extras["pii_leaks"] = leaks
        if n_indexed != ingested or leaks:
            bad.update(range(len(steps)))  # the index itself is wrong
        return bad


class ServeSearch:
    """One session serves a reader, then a writer.  The reader sends
    search requests until the window ends; reads touch little data, so
    planning, job scheduling and file listing dominate them.  The writer
    then ingests arrival batches through the dedup, quality, PII,
    curation and streaming index layers.  The two take turns: side by
    side, their interleaving made both clients' figures vary more from
    run to run."""

    name = "serve_search"
    loop = "closed, 1 client at a time: a reader (requests), then a writer (ingest steps)"
    reader = Reader()
    writer = Writer()

    def inputs(self, cache: str, seed: int) -> str:
        s = SIZES[self.name]

        def build(d):
            gen.build_ingest(os.path.join(d, "ingest"), seed, gen.CorpusSpec(s["base"], 4),
                             s["batches"], s["batch"])
            gen.build_embeddings(os.path.join(d, "vectors"), seed, s["vectors"], s["dim"], 32, 256)
            gen.build_posts(os.path.join(d, "posts"), seed, gen.PostsSpec(s["posts"], s["post_files"]))

        key = f"serve-{seed}-{s['base']}-{s['batch']}-{s['vectors']}-{s['posts']}"
        return gen.cached(cache, key, build)

    def build(self, ctx: Ctx, d: str):
        """The reader's and the writer's indexes are independent: they
        are built side by side, as a deployment would.  The reader then
        warms up with one request of each kind.  The writer has no
        warm-up step: its index builds and the reader's requests run
        most of its code paths before its timed step.  A warm-up batch
        (batch 0, beside the reader's build) made set-up about 15 s
        longer, which the time budget of a benchmark pass does not
        leave."""

        def reader():
            r = self.reader.build(ctx, ctx.inputs, os.path.join(d, "r"))
            for kind in ("bm25", "ivf", "slice"):
                self.reader.request(ctx, r, next(q for q in r["reqs"] if q[0] == kind))
            return r

        r, w = in_parallel(
            reader,
            lambda: self.writer.build(ctx, os.path.join(ctx.inputs, "ingest"), os.path.join(d, "w")),
        )
        return {"r": r, "w": w}

    def measure(self, ctx: Ctx, st) -> Measured:
        r, w = st["r"], st["w"]
        reqs = r["reqs"]
        s = SIZES[self.name]
        lat, cpu, outs, errors = closed_loop(
            ctx, lambda i: self.reader.request(ctx, r, reqs[i % len(reqs)]),
            min_ops=s["min_requests"], release=False,
        )
        # the deadline has passed: the writer runs exactly its minimum
        w_lat, _, w_outs, w_errors = closed_loop(
            ctx, lambda i: self.writer.step(ctx, w, i), limit=s["batches"],
            min_ops=s["min_steps"], release=False,
        )
        w["steps"] = w_outs
        w["step_errors"] = w_errors
        # a step that raised recorded no batch time: count completed steps only
        w["docs"] = s["batch"] * len(w["batch_ms"])
        return Measured(lat, cpu, outs, errors, w["docs"], sum(w["batch_cpu"]),
                        len(lat) + len(w_lat))

    def check(self, ctx: Ctx, st, m: Measured) -> int:
        bad_reads = self.reader.check(ctx, st["r"], m.outs) | m.errors
        w = st["w"]
        bad_steps = self.writer.check(ctx, w, w["steps"]) | w["step_errors"]
        return len(bad_reads) + len(bad_steps)

    def breakdown(self, ctx: Ctx, st):
        self.writer.breakdown(ctx, st["w"])

    def figures(self, ctx: Ctx, st, m: Measured) -> dict:
        p90 = spans.percentile(m.lat, 90)
        ctx.tracer.count("operators.search.index_files", n_files(st["r"]["bm25"]))
        out = {
            "search_requests": len(m.lat),
            "search_p50_ms": round(spans.percentile(m.lat, 50) * 1e3, 2),
            "search_p90_ms": round(p90 * 1e3, 2) if p90 is not None else "n/a (< 100 requests)",
            "search_qps": round(len(m.lat) / sum(m.lat), 3),
        }
        out.update(self.writer.figures(ctx, st["w"]))
        return out


WORKLOADS = {w.name: w for w in (KeywordReport(), ServeSearch())}
