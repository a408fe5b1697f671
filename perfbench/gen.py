"""Seeded input generator for the benchmark workloads.

Everything a workload reads is made here from one integer seed with
numpy's PCG64 stream, so the same seed always yields byte-identical
parquet files.  Text is assembled column-at-a-time with pyarrow
(``binary_join`` over a list array of vocabulary indices), which keeps a
few hundred thousand posts to a couple of seconds of generation.

Inputs land under a per-(workload, seed, size) cache directory and are
reused by every later run with the same key; :func:`cached` builds into
a temporary sibling and renames it into place, so an interrupted build
never leaves a half-written cache entry behind.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

YEAR_START_US = 1_672_531_200_000_000  # 2023-01-01T00:00:00 UTC
YEAR_US = 365 * 86_400 * 1_000_000
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a stream never
    shifts the numbers another stream draws."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def make_words(rng: np.random.Generator, n: int, lo: int, hi: int,
               taken: set[str] | None = None) -> list[str]:
    """`n` distinct random lowercase words of length [lo, hi]."""
    taken = set() if taken is None else taken
    out: list[str] = []
    while len(out) < n:
        ln = int(rng.integers(lo, hi + 1))
        w = LETTERS[rng.integers(0, 26, ln)].tobytes().decode()
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def zipf_probs(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def draw(rng: np.random.Generator, probs: np.ndarray, size) -> np.ndarray:
    """Inverse-CDF sampling: much faster than rng.choice(p=...)."""
    cdf = np.cumsum(probs)
    idx = np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")
    return np.minimum(idx, len(probs) - 1)


def join_tokens(tokens: pa.Array, lengths: np.ndarray) -> pa.Array:
    """Space-join consecutive runs of `tokens` (one run per length)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    lists = pa.ListArray.from_arrays(pa.array(offsets), tokens)
    return pc.binary_join(lists, " ")


def write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as `n_files` contiguous parquet parts under `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def cached(root: str, key: str, build) -> str:
    """Directory holding `build(dir)`'s output for `key`, built once."""
    final = os.path.join(root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# keyword_report: posts + KeywordConfig
# ---------------------------------------------------------------------------

N_INDUSTRIES = 5
KEYWORDS_PER_INDUSTRY = 16
N_CHANNELS = 200
N_VOCAB = 5000


NOISE_FRAC = 0.10  # posts carrying a noise phrase
KEYWORD_FRAC = 0.45  # posts carrying 1-3 keywords


@dataclass(frozen=True)
class PostsSpec:
    n_posts: int
    n_files: int


def keyword_config_dict(seed: int) -> dict:
    """The generated `KeywordConfig` as plain data: 5 industries × 16
    keywords (about a fifth of them two-word phrases), noise phrases, a
    mixed-case channel blacklist and stopwords."""
    rng = rng_for(seed, "kwcfg")
    taken: set[str] = set()
    # keyword words are longer than any vocabulary word, so ordinary
    # text never contains one by accident
    kw_words = make_words(rng, 140, 11, 13, taken)
    it = iter(kw_words)
    industries = {}
    for i in range(N_INDUSTRIES):
        kws = []
        for j in range(KEYWORDS_PER_INDUSTRY):
            kws.append(f"{next(it)} {next(it)}" if j % 5 == 4 else next(it))
        industries[f"industry_{i}"] = kws
    noise = [f"{next(it)} {next(it)}" for _ in range(4)]
    channels = channel_names()
    black_idx = rng.choice(np.arange(N_CHANNELS), 8, replace=False)
    black_idx[0] = 0  # the busiest channel is always blacklisted
    blacklist = [
        channels[k].upper() if n % 2 else channels[k] for n, k in enumerate(black_idx)
    ]
    vocab = vocabulary(seed)
    return {
        "industry_keywords": industries,
        "noise_terms": noise,
        "channel_blacklist": blacklist,
        "stopwords": vocab[:12],
    }


def channel_names() -> list[str]:
    return [f"chan{k:03d}" for k in range(N_CHANNELS)]


def vocabulary(seed: int) -> list[str]:
    return make_words(rng_for(seed, "vocab"), N_VOCAB, 2, 9)


def build_posts(out: str, seed: int, spec: PostsSpec) -> None:
    """`documents.parquet/` (doc_id, text, lang, source, n_chars, views,
    ts) sorted by ts over one year, plus `config.json`."""
    cfg = keyword_config_dict(seed)
    rng = rng_for(seed, "posts")
    n = spec.n_posts
    vocab = vocabulary(seed)
    keywords = [k for kws in cfg["industry_keywords"].values() for k in kws]
    tokens_tab = vocab + keywords + cfg["noise_terms"]
    kw0, noise0 = len(vocab), len(vocab) + len(keywords)

    lengths = rng.integers(20, 61, n)
    total = int(lengths.sum())
    flat = draw(rng, zipf_probs(N_VOCAB, 1.05), total).astype(np.int32)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    # plant 1-3 keywords (Zipf over the keyword list) in a share of posts
    has_kw = rng.random(n) < KEYWORD_FRAC
    for extra in range(3):
        pick = has_kw & (rng.random(n) < (1.0, 0.4, 0.15)[extra])
        pos = starts[pick] + rng.integers(0, lengths[pick])
        flat[pos] = kw0 + draw(rng, zipf_probs(len(keywords), 0.8), int(pick.sum()))
    noisy = rng.random(n) < NOISE_FRAC
    pos = starts[noisy] + rng.integers(0, lengths[noisy])
    flat[pos] = noise0 + rng.integers(0, len(cfg["noise_terms"]), int(noisy.sum()))

    text = join_tokens(pa.array(tokens_tab).take(pa.array(flat)), lengths)
    channels = np.array(channel_names())[draw(rng, zipf_probs(N_CHANNELS, 1.1), n)]
    views = np.floor(rng.lognormal(6.0, 1.5, n)).astype(np.int64)
    ts = np.sort(YEAR_START_US + rng.integers(0, YEAR_US, n))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array(["en"] * n),
            "source": pa.array(channels),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
            "views": pa.array(views),
            "ts": pa.array(ts, type=pa.timestamp("us")),
        }
    )
    write_parts(table, os.path.join(out, "documents.parquet"), spec.n_files)
    with open(os.path.join(out, "config.json"), "w") as fh:
        json.dump(cfg, fh, sort_keys=True, indent=1)


# ---------------------------------------------------------------------------
# curate_corpus / serve_search / ingest_search: documents with planted
# duplicates, PII and low-quality docs
# ---------------------------------------------------------------------------


EXACT_FRAC = 0.05  # planted exact copies
NEAR_FRAC = 0.10  # planted near-duplicate variants


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    n_files: int
    # near-dup chain length, base + (size - 1) one-word edits: the
    # connected-components rounds of near-dup grouping track it
    cluster_size: int = 3


def _random_docs(rng, n, lo, hi, probs):
    lengths = rng.integers(lo, hi + 1, n)
    flat = draw(rng, probs, int(lengths.sum())).astype(np.int32)
    return [flat[s - ln:s] for s, ln in zip(np.cumsum(lengths), lengths)]


def corpus_docs(seed: int, spec: CorpusSpec, stream: str = "corpus"):
    """Token-id docs plus planted structure, before id assignment.

    Returns (docs, extra_tokens, plan, rng): `docs` a list of int32
    arrays into vocabulary + `extra_tokens`; `plan` holds the positions
    of the near-duplicate chains and of the exact (source, copy) pairs;
    `rng` continues the same stream for the caller."""
    rng = rng_for(seed, stream)
    vocab_p = zipf_probs(N_VOCAB, 1.05)
    n = spec.n_docs
    n_exact = int(n * EXACT_FRAC)
    per = spec.cluster_size - 1
    n_clusters = int(n * NEAR_FRAC) // per
    n_near = n_clusters * per
    n_short, n_punct, n_rep = int(n * 0.04), int(n * 0.02), int(n * 0.02)
    n_base = n - n_exact - n_near - n_short - n_punct - n_rep
    docs = _random_docs(rng, n_base, 40, 120, vocab_p)
    # the punctuation token is appended after the vocabulary
    extra = ["!!! ??? ;;"]
    punct_tok = N_VOCAB
    plan: dict[str, list] = {"near": [], "exact": []}
    for c in range(n_clusters):  # chains: each variant edits the last
        prev = docs[c]
        members = [c]
        for _ in range(per):
            v = prev.copy()
            v[int(rng.integers(3, len(v) - 3))] = int(rng.integers(0, N_VOCAB))
            members.append(len(docs))
            docs.append(v)
            prev = v
        plan["near"].append(members)
    singles = np.arange(n_clusters, n_base)
    for src in rng.choice(singles, n_exact, replace=True):
        plan["exact"].append((int(src), len(docs)))
        docs.append(docs[int(src)].copy())
    docs.extend(_random_docs(rng, n_short, 5, 15, vocab_p))
    for d in _random_docs(rng, n_punct, 30, 60, vocab_p):
        d[::2] = punct_tok
        docs.append(d)
    for _ in range(n_rep):
        phrase = rng.integers(0, N_VOCAB, 3).astype(np.int32)
        docs.append(np.tile(phrase, 12))
    return docs, extra, plan, rng


def pii_tokens(rng, candidates: np.ndarray) -> dict[int, str]:
    """Email / phone / IPv4 strings for a tenth of `candidates`:
    {doc position: token}."""
    out: dict[int, str] = {}
    picks = rng.choice(candidates, len(candidates) // 10, replace=False)
    for k, i in enumerate(picks):
        num = int(rng.integers(0, 10000))
        out[int(i)] = (
            f"user{num}@example.org",
            f"555-{num:04d}",
            f"10.{num % 256}.{(num * 7) % 256}.{(num * 13) % 256}",
        )[k % 3]
    return out


def build_corpus(out: str, seed: int, spec: CorpusSpec, stream: str = "corpus") -> dict:
    """`documents.parquet/` (doc_id, text, lang, source, n_chars) with
    planted exact and near-duplicate clusters, PII, short, punctuation
    heavy and repetitive docs, in shuffled id order; `plan.json` records
    the planted ids.  Returns the plan."""
    docs, extra, plan, rng = corpus_docs(seed, spec, stream)
    vocab = vocabulary(seed)
    n = len(docs)
    order = rng.permutation(n)  # position -> doc_id
    # PII goes only into docs outside every planted duplicate group, so
    # the planted structure stays exactly as generated
    planted = {m for c in plan["near"] for m in c}
    planted |= {i for pair in plan["exact"] for i in pair}
    pii = pii_tokens(rng, np.array([i for i in range(n) if i not in planted]))
    lengths = np.array([len(d) for d in docs])
    flat = np.concatenate(docs)
    tokens = pa.array(vocab + extra).take(pa.array(flat))
    text = join_tokens(tokens, lengths).to_pylist()
    for i, tok in pii.items():
        text[i] = text[i] + " contact " + tok
    ids = order.astype(np.int64)
    channels = np.array(channel_names())[draw(rng, zipf_probs(N_CHANNELS, 1.1), n)]
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(text),
            "lang": pa.array(["en"] * n),
            "source": pa.array(channels),
        }
    )
    table = table.append_column(
        "n_chars", pc.utf8_length(table["text"]).cast(pa.int64())
    )
    table = table.take(pa.array(np.argsort(ids)))
    write_parts(table, os.path.join(out, "documents.parquet"), spec.n_files)
    id_of = lambda i: int(ids[i])  # noqa: E731
    plan_ids = {
        "near_clusters": [[id_of(m) for m in c] for c in plan["near"]],
        "exact_copies": [[id_of(s), id_of(d)] for s, d in plan["exact"]],
        "pii_docs": sorted(id_of(i) for i in pii),
        "n_docs": n,
        "n_distinct_texts": len(set(text)),
    }
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan_ids, fh)
    return plan_ids


def build_embeddings(out: str, seed: int, n: int, dim: int, n_clusters: int,
                     n_queries: int) -> None:
    """Clustered float32 vectors (`embeddings.parquet`) and held-out query
    vectors (`queries.parquet`, ids above every indexed id)."""
    rng = rng_for(seed, "emb")
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    lab = rng.integers(0, n_clusters, n + n_queries)
    X = (centers[lab] + rng.normal(0.0, 0.35, (n + n_queries, dim))).astype(np.float32)

    def table(lo, hi, id0):
        flat = pa.array(X[lo:hi].ravel())
        offs = pa.array(np.arange(hi - lo + 1, dtype=np.int32) * dim)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(id0, id0 + hi - lo, dtype=np.int64)),
                "embedding": pa.ListArray.from_arrays(offs, flat),
                "label": pa.array(lab[lo:hi].astype(np.int32)),
            }
        )

    write_parts(table(0, n, 0), os.path.join(out, "embeddings.parquet"), 4)
    write_parts(table(n, n + n_queries, n), os.path.join(out, "queries.parquet"), 1)


def query_stream(seed: int, n: int) -> list[list[int]]:
    """Zipf-drawn BM25 query term ids: 1-4 terms each, hot terms repeat.
    Term ids index the vocabulary; the very top ids (stopword-like) are
    skipped so queries stay selective."""
    rng = rng_for(seed, "queries")
    probs = zipf_probs(N_VOCAB - 20, 1.0)
    out = []
    for _ in range(n):
        k = int(rng.integers(1, 5))
        out.append(sorted({int(t) + 20 for t in draw(rng, probs, k)}))
    return out


def build_ingest(out: str, seed: int, base: CorpusSpec, n_batches: int,
                 batch_size: int) -> dict:
    """A base corpus (`base/`) plus `n_batches` arrival batches
    (`batches/b<k>/documents.parquet`).  Each batch carries exact copies
    of base and earlier-batch docs, one-word-edit variants of base docs,
    and a term that no other doc in the base or any batch contains.
    Returns and writes (`ingest.json`) the planted facts per batch."""
    build_corpus(os.path.join(out, "base"), seed, base, stream="ibase")
    known = pq.read_table(os.path.join(out, "base", "documents.parquet")).column(
        "text"
    ).to_pylist()
    base_texts = list(known)
    rng = rng_for(seed, "ingest")
    vocab = np.array(vocabulary(seed), dtype=object)
    probs = zipf_probs(N_VOCAB, 1.05)
    next_id = base.n_docs
    meta = []
    for k in range(n_batches):
        n_copy, n_near = batch_size // 20, batch_size // 20
        n_new = batch_size - n_copy - n_near
        texts = [" ".join(vocab[d]) for d in _random_docs(rng, n_new, 40, 120, probs)]
        term = f"zzuniq{k:03d}batch"
        unique_pos = [int(p) for p in rng.choice(n_new, 2, replace=False)]
        for p in unique_pos:
            texts[p] = texts[p] + " " + term
        for src in rng.integers(0, len(known), n_copy):
            texts.append(known[int(src)])
        near_src = rng.integers(0, len(base_texts), n_near)
        for src in near_src:
            words = base_texts[int(src)].split(" ")
            if len(words) >= 40:
                words[int(rng.integers(3, len(words) - 3))] = str(
                    vocab[int(rng.integers(0, N_VOCAB))]
                )
            texts.append(" ".join(words))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        channels = np.array(channel_names())[draw(rng, zipf_probs(N_CHANNELS, 1.1), len(texts))]
        table = pa.table(
            {
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(channels),
            }
        )
        table = table.append_column(
            "n_chars", pc.utf8_length(table["text"]).cast(pa.int64())
        )
        path = os.path.join(out, "batches", f"b{k:03d}", "documents.parquet")
        write_parts(table, path, 1)
        seen, n_dup = set(known), 0
        for t in texts:
            n_dup += t in seen
            seen.add(t)
        known.extend(texts)
        meta.append(
            {
                "n_docs": len(texts),
                "n_exact_dups": n_dup,
                "term": term,
                "term_ids": sorted(int(ids[p]) for p in unique_pos),
                "n_new": n_new,
            }
        )
    info = {"n_base": base.n_docs, "batches": meta}
    with open(os.path.join(out, "ingest.json"), "w") as fh:
        json.dump(info, fh)
    return info
