"""Ranked text retrieval and vocabulary induction over the corpus.

Reference N/A: /root/reference/main.py has keyword *containment*
filtering (main.py:283-288) and word-frequency reporting
(main.py:440-567) but no relevance ranking and no vocabulary-coverage
analysis.  These are the north-star "engine a reference user would
still need" additions: BM25 is the standard ranked-retrieval scoring
the keyword queries grow into, and vocabulary coverage is the standard
tokenizer-budget diagnostic of a training-data pipeline (how much of
the token stream the top-N vocabulary explains).

Both operators use the same whitespace-lower tokenization as the LM
quality tiers (textquality.unigram_lm_scores) so their oracle SQL is
dialect-portable.

Scale shape (100 TB):

* bm25_search — each doc's length is the size of its token array,
  taken before the explode; the query-term postings are filtered
  BEFORE their groupBy, so the shuffled tf table holds only docs
  containing a query term, and each row carries its doc's length;
  per-term document frequencies are a count window over those rows;
  corpus stats (N, avgdl) come from one global aggregate over the
  array sizes and enter as literals.  No full-corpus shuffle, no join.
* vocab_coverage — distributed token count, then TakeOrdered limits the
  ranked vocabulary to top_n rows before the cumulative-sum window, so
  the single-partition prefix sum only ever sees top_n rows (bounded by
  the caller, never by corpus size); the corpus total attaches as a
  broadcast scalar.

The persisted BM25 index has one writer, `_write_index` (behind
build/update/compact_postings_index and streaming.ingest.index_batch),
and one reader, bm25_probe.  Under `index_path`: postings/ (id, token,
tf, dl) — plain, bucketed by token, or `batch=<id>/` partitions, with
each doc's length dl counted before the explode, so it costs no
shuffle; doclens/ (id, dl) from the same rows, read only to derive the
manifest's (n_docs, avgdl) and for update_postings_index's id check;
stats/, the manifest (n_docs, avgdl, n_buckets, format; n_buckets NULL
unless bucketed), written LAST over the whole doclens table.  A full
rebuild deletes the manifest first, so a rebuild that fails leaves no
index; an append or batch that fails earlier leaves the previous
manifest, and re-running it repairs the index.  A probe scores the
postings alone with the manifest's values, read once per commit
(scale.read_manifest); an index whose manifest lacks this `format`
predates `dl` on postings and raises ValueError.  Ids are BIGINT and
unique per document.

A probe takes one of two paths, picked from the postings' file
listing before any postings are read.  Postings on the local
filesystem totalling at most scale.DRIVER_PROBE_MAX_BYTES (the gate
the IVF probe shares) are scored on the driver from the files
(pyarrow, token filter pushed into the scan) in _bm25_score's exact
arithmetic, into a local frame: no Spark job.  At
that size a probe is a few thousand postings rows, and planning and
scheduling Spark jobs cost far more CPU than scoring them (the gate
is the measured crossover, SCALE.md).  Larger or non-local postings
take the Spark plan, which stays the path that scales.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

# Default query over the fixture vocabulary; any term list works.
DEFAULT_QUERY = ("hash", "join", "window", "stream")

K1 = 1.2
B = 0.75


def _words(text_col: str) -> Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.where(F.col(text_col).isNotNull()).select(
        id_col, F.explode(_words(text_col)).alias("token")
    )


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    top_k: int = 15,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene-default
    scoring): top_k docs for ``query_terms``, scored

        sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the always-positive
    BM25+ form Lucene uses).  Returns (id, n_terms, score) — n_terms =
    how many distinct query terms matched; deterministic tie-break by
    id at the top_k boundary.  Per-term contributions are accumulated
    in DECIMAL so the per-doc sum is independent of partial-aggregation
    order (same convention as knn_bruteforce's dot product).
    """
    dl = _doc_words(docs, text_col, id_col).select(F.size("_w").alias("dl"))
    s = _corpus_stats(dl).select(F.struct("n_docs", "avgdl")).scalar()
    post = _term_freqs(docs, text_col, id_col, query_terms)
    return _bm25_score(post, s["n_docs"], s["avgdl"], id_col, k1, b, top_k)


def _doc_words(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _w): each non-NULL doc's token array."""
    return docs.where(F.col(text_col).isNotNull()).select(
        id_col, _words(text_col).alias("_w")
    )


def _term_freqs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: tuple[str, ...] | None = None,
) -> DataFrame:
    """(id, token, tf, dl) over every token of every doc, or only over
    `query_terms`, filtered before the aggregate.  dl, the doc's token
    count, is the size of its token array taken before the explode, so
    it rides the tf aggregate with no second shuffle."""
    toks = _doc_words(docs, text_col, id_col).select(
        id_col,
        F.size("_w").cast("long").alias("dl"),
        F.explode("_w").alias("token"),
    )
    if query_terms is not None:
        toks = toks.where(F.col("token").isin(*query_terms))
    return toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )


def _corpus_stats(dl: DataFrame) -> DataFrame:
    """BM25 corpus statistics (n_docs, avgdl) over a doc-lengths table."""
    return dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def _bm25_score(
    post: DataFrame,
    n_docs: float,
    avgdl: float,
    id_col: str,
    k1: float,
    b: float,
    top_k: int,
) -> DataFrame:
    """Scoring dataflow shared by the in-plan form (bm25_search) and
    the persisted-index probe (bm25_probe): `post` = (id, token, tf, dl)
    rows already filtered to the query terms, and the corpus stats as
    literals — bm25_search's aggregate, or the manifest's values.
    (id, token) is unique, so df(t) is a count window over `post`: no
    aggregate joined back, and no Exchange when the rows arrive
    bucketed by token.  _driver_probe repeats this arithmetic."""
    df = F.count(F.lit(1)).over(Window.partitionBy("token"))
    idf = F.log(
        F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = post.withColumn("df", df.cast("double")).select(
        id_col,
        (
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
        )
        .cast("decimal(38,18)")
        .alias("term_score"),
    )
    return (
        contrib.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("term_score").cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )


# The BM25 manifest, `stats/` under `index_path`: one row.  `format`
# names the postings layout; a manifest without it predates `dl`.
_FORMAT = "postings-dl-v1"
_MANIFEST = "n_docs DOUBLE, avgdl DOUBLE, n_buckets INT, format STRING"


def _read_manifest(spark, index_path: str, missing_ok: bool = False):
    """The manifest row, read once per commit; None (with `missing_ok`)
    or FileNotFoundError when none is committed, ValueError when it is
    of an older format."""
    from .scale import read_manifest

    rows = read_manifest(spark, f"{index_path}/stats", _MANIFEST)
    if rows is None:
        if missing_ok:
            return None
        raise FileNotFoundError(f"no BM25 index manifest under {index_path}")
    if rows[0]["format"] != _FORMAT:
        raise ValueError(
            f"{index_path}: BM25 index of an older format (postings "
            "without dl); rebuild it"
        )
    return rows[0]


def _read_doclens(spark, index_path: str, id_col: str) -> DataFrame:
    return spark.read.schema(f"{id_col} BIGINT, dl BIGINT").parquet(
        f"{index_path}/doclens"
    )


def _open_postings(
    spark, index_path: str, id_col: str, n_buckets: int | None
) -> DataFrame:
    """Open the postings as the bucketed catalog table (a fresh session
    re-registers it with one DDL) when `n_buckets` is set, else plain."""
    from .scale import read_bucketed_index

    schema = f"{id_col} BIGINT, token STRING, tf BIGINT, dl BIGINT"
    if n_buckets is None:
        return spark.read.schema(schema).parquet(f"{index_path}/postings")
    return read_bucketed_index(
        spark, f"{index_path}/postings", ["token"], n_buckets, schema
    )


def _write_index(
    post: DataFrame,
    index_path: str,
    id_col: str,
    mode: str = "overwrite",
    batch: int | None = None,
    n_buckets: int | None = None,
) -> None:
    """Write (id, token, tf, dl) rows, checkpointed once, as postings
    then doclens — with save `mode`, under `batch=<id>/` if given,
    postings bucketed (a full overwrite) if `n_buckets` — then the
    manifest.  A full overwrite first deletes the manifest; an append
    or batch first checks that an existing one is of this format."""
    from .scale import drop_manifest, write_bucketed_index

    spark = post.sparkSession
    if mode == "overwrite" and batch is None:
        drop_manifest(spark, f"{index_path}/stats")
    else:
        _read_manifest(spark, index_path, missing_ok=True)
    post = post.select(id_col, "token", "tf", "dl").localCheckpoint()
    sub = "" if batch is None else f"/batch={batch}"
    if n_buckets is None:
        post.write.mode(mode).parquet(f"{index_path}/postings{sub}")
    else:
        write_bucketed_index(
            post, f"{index_path}/postings", ["token"], n_buckets
        )
    post.groupBy(id_col).agg(F.max("dl").alias("dl")).write.mode(
        mode
    ).parquet(f"{index_path}/doclens{sub}")
    dl = _read_doclens(spark, index_path, id_col)
    _corpus_stats(dl).select(
        "n_docs",
        "avgdl",
        F.lit(n_buckets).cast("int").alias("n_buckets"),
        F.lit(_FORMAT).alias("format"),
    ).write.mode("overwrite").parquet(f"{index_path}/stats")


def build_postings_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> None:
    """Materialize the inverted index (module docstring) from one
    tokenize pass, probed per query by :func:`bm25_probe`.
    ``n_buckets`` selects the 100 TB layout: postings hash-bucketed and
    sorted by `token` (scale.write_bucketed_index), so a probe's token
    IN-filter prunes to the matching buckets and the per-token df
    window has no Exchange.  Plain parquet (default) still gets
    row-group pruning from the pushed token predicate (test_plans).
    The manifest records the layout; callers never repeat it.  Over an
    existing index this is a rebuild in place: the old manifest is
    deleted first, so a failed rebuild leaves no index."""
    _write_index(
        _term_freqs(docs, text_col, id_col), index_path, id_col,
        n_buckets=n_buckets,
    )


def bm25_probe(
    spark,
    index_path: str,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    top_k: int = 15,
) -> DataFrame:
    """Query a persisted index.  The manifest, read once per commit,
    gives the layout and the (n_docs, avgdl) values, and the matching
    postings carry their dl, so the probe scores them alone: it reads
    neither doclens nor the corpus text.  Local postings of at most
    scale.DRIVER_PROBE_MAX_BYTES are scored on the driver
    (_driver_probe), so a warm probe runs no Spark job; others run a
    Spark plan whose token IN-filter pushes into the postings scan (and
    prunes buckets), at most 3 jobs warm (a bucketed one 2: its token
    window needs no Exchange).  Both paths return the same rows and schema.  Raises
    FileNotFoundError when no index is committed and ValueError on an
    index of an older format.  Result-identical to bm25_search over the
    same corpus (parity pytest-asserted)."""
    from . import scale

    m = _read_manifest(spark, index_path)
    local = scale.local_data_files(spark, f"{index_path}/postings")
    if local is not None and local[2] <= scale.DRIVER_PROBE_MAX_BYTES:
        return _driver_probe(
            spark, local[1], m, query_terms, id_col, k1, b, top_k
        )
    post = _open_postings(spark, index_path, id_col, m["n_buckets"]).where(
        F.col("token").isin(*query_terms)
    )
    return _bm25_score(post, m["n_docs"], m["avgdl"], id_col, k1, b, top_k)


def _driver_probe(
    spark, files, m, query_terms, id_col, k1, b, top_k
) -> DataFrame:
    """_bm25_score's result computed in this process, bit for bit.  The
    arithmetic follows the JVM's: idf takes StrictMath.log (Spark's
    `log`, one call per query term), each contribution is the same
    double expression in the same order, then cast to decimal(38,18)
    HALF_UP from its shortest repr, summed exactly per doc, cast to
    double and rounded to 6 places HALF_UP (Spark's `round`, again from
    the repr).  The JVM's casts read Double.toString, which before JDK
    19 can print more digits than the shortest repr on rare values;
    none of 600,000 random doubles in [0.001, 100] did on JDK 17."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = pa.schema(
        [(id_col, pa.int64()), ("token", pa.string()),
         ("tf", pa.int64()), ("dl", pa.int64())]
    )
    post = ds.dataset(files, schema=schema, format="parquet").to_table(
        filter=ds.field("token").isin(sorted(set(query_terms)))
    )
    tokens = post.column("token").to_pylist()
    log = spark._jvm.java.lang.StrictMath.log
    idf = {
        t: log(1.0 + (m["n_docs"] - df + 0.5) / (df + 0.5))
        for t, df in Counter(tokens).items()
    }
    tf = post.column("tf").to_numpy().astype(float)
    dl = post.column("dl").to_numpy().astype(float)
    contrib = (
        np.array([idf[t] for t in tokens], dtype=float)
        * (tf * (k1 + 1))
        / (tf + k1 * (1 - b + b * dl / m["avgdl"]))
    )
    ctx = Context(prec=38, rounding=ROUND_HALF_UP)
    e18, e6 = Decimal("1e-18"), Decimal("1e-6")
    sums: dict[int, list] = {}
    # a contribution depends on (token, tf, dl) alone, so values repeat
    # across rows: each distinct one is quantized once
    terms: dict[float, Decimal] = {}
    for doc, c in zip(post.column(id_col).to_pylist(), contrib.tolist()):
        term = terms.get(c)
        if term is None:
            term = terms[c] = ctx.quantize(Decimal(repr(c)), e18)
        acc = sums.setdefault(doc, [0, Decimal(0)])
        acc[0] += 1
        acc[1] = ctx.add(acc[1], term)
    rows = sorted(
        (
            (doc, n_terms, float(ctx.quantize(Decimal(repr(float(s))), e6)))
            for doc, (n_terms, s) in sums.items()
        ),
        key=lambda r: (-r[2], r[0]),
    )[:top_k]
    out = pa.table(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.int64()),
            pa.array([r[2] for r in rows], pa.float64()),
        ],
        names=[id_col, "n_terms", "score"],
    )
    # the Spark path's schema, nullability included
    result_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_terms", LongType(), False),
            StructField("score", DoubleType()),
        ]
    )
    return spark.createDataFrame(out, result_schema)


def vocab_coverage(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-coverage induction: the top_n most frequent tokens
    with rank, count, and the cumulative fraction of the whole token
    stream they cover — the tokenizer-budget curve ("how big must the
    vocab be to cover 99% of tokens").  Returns
    (rank, token, cnt, coverage); rank breaks count ties by token.
    """
    counts = _tokens(docs, text_col, id_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("_total"))
    # 100M-type regime note (r12 verdict): the unpartitioned windows
    # below are SAFE at any vocabulary size because they run AFTER the
    # orderBy().limit(top_n) — Spark plans that as TakeOrderedAndProject
    # (per-partition top-N, merged on the driver), so the single-task
    # window only ever sees top_n rows; the full type table is never
    # globally sorted.  If top_n itself were raised to vocabulary
    # scale, switch the rank to scale.global_rank.
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
            .alias("rank"),
            "token",
            "cnt",
            F.round(F.sum("cnt").over(w) / F.col("_total"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("rank")
    )


def encode_documents(
    docs: DataFrame,
    vocab_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer application: encode each document against the induced
    top-`vocab_size` vocabulary (the one `vocab_coverage` ranks) —
    token i gets id = its vocabulary rank, out-of-vocabulary tokens get
    id 0.  Returns (id, n_tokens, n_oov, ids ARRAY<INT>) in original
    token order — the step between vocabulary induction and
    `curation.pack_sequences` in a training-data assembly line.

    Scale shape: the vocabulary reduces to vocab_size rows (TakeOrdered
    over distributed counts) and BROADCASTS into the token stream — the
    encode join never shuffles the corpus; ordered reassembly is the
    line_dedup_clean groupBy (array_sort over (pos, id) structs), one
    doc-keyed shuffle.
    """
    counts = _tokens(docs, text_col, id_col).groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = (
        # the rank window runs AFTER limit(vocab_size) — TakeOrdered
        # bounds it to vocab_size rows even against a 100M-type
        # vocabulary (see the vocab_coverage note); never a global
        # sort of the type table
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
        .select(
            "token",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
            .alias("tok_id"),
        )
    )
    toks = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("pos", "token"),
        )
    )
    enc = toks.join(F.broadcast(vocab), "token", "left").select(
        id_col, "pos", F.coalesce("tok_id", F.lit(0)).alias("tok_id")
    )
    return (
        enc.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("tok_id") == 0).cast("long")).alias("n_oov"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                lambda s: s["tok_id"],
            ).alias("ids"),
        )
        .orderBy(id_col)
    )


def tfidf_doc_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse TF-IDF cosine document similarity via inverted-index
    self-join — the LEXICAL near-duplicate scale path, complementing the
    dense-embedding tiers (operators/similarity.py) and the shingle
    tiers (minhash/winnowing): pairs of documents whose tf-idf vectors
    (smooth idf, ln((N+1)/(df+1)) + 1, sklearn's convention) have cosine
    ≥ `threshold`.  Returns (doc_a, doc_b, cosine) with doc_a < doc_b,
    cosine rounded to 6 places.

    Exactness: per-term weights are quantized to DECIMAL(18,6) once, so
    the pair dot products and per-doc norms are EXACT decimal sums —
    independent of partial-aggregation order, hash-identical to a
    sequential oracle (the knn_bruteforce/bm25 convention).

    Scale design: this is a similarity join on the INVERTED index, not
    an all-pairs product — cost Σ_t df(t)², bounded by dropping terms
    with df > `max_df` (which is simultaneously the skew guard for hot
    tokens and a no-op for the score: df≈N terms carry idf≈ln(1)+1 and
    appear in the norms of both sides, so high-df terms contribute
    little discrimination; the winnowing family's df-cap argument,
    operators/dedup.py:winnowing_pairs).  The join shuffles (token,
    doc, weight) triples — never document text — and partitions by
    token, so at 100 TB it is one bucketable equi-join plus a pair-keyed
    re-aggregation.
    """
    tf = _term_freqs(docs, text_col, id_col)
    n_docs = docs.where(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # quantize tf·idf ONCE; every downstream sum is exact decimal.
    # localCheckpoint: the weight table feeds three consumers (norms and
    # both join sides) — without it the tf/df subtree runs three times
    # (house idiom, cf. lm_quality_buckets / dsir_resample)
    weights = (
        tf.join(df_t.where(F.col("df") <= max_df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            (
                F.col("tf").cast("double")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + F.lit(1.0)
                )
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    norms = weights.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    a = weights.select(
        F.col(id_col).alias("doc_a"), "token", F.col("w").alias("wa")
    )
    b = weights.select(
        F.col(id_col).alias("doc_b"), "token", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("norm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def update_postings_index(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    assert_new_ids: bool = True,
) -> None:
    """Append-only incremental maintenance of a plain-layout postings
    index (build_postings_index): tokenize ONLY the new documents,
    append their postings and doc-lengths as delta files, and rewrite
    the one-row manifest — the corpus already indexed is never
    re-read, the exact seam `incremental_exact_dedup` uses for its
    fingerprint index.

    Contract: `new_docs` carries doc_ids not yet in the index (append-
    only corpus); with `assert_new_ids` (default) that is verified with
    one semi-join count against the existing doclens — cheap relative
    to the tokenize pass, and it turns silent double-indexing into an
    error.  Parquet append = delta files in place: probes see base +
    deltas in one scan with no bookkeeping; run
    :func:`compact_postings_index` when small files accumulate.
    A bucketed index raises ValueError: appended files would not carry
    its bucket layout, so it is rebuild-only.  A failed append is not
    retryable (its delta files stay); compaction re-derives doclens and
    the manifest from the surviving postings.
    """
    spark = new_docs.sparkSession
    if _read_manifest(spark, index_path)["n_buckets"] is not None:
        raise ValueError(
            f"update_postings_index: {index_path} is bucketed (rebuild-only)"
        )
    if assert_new_ids:
        existing = _read_doclens(spark, index_path, id_col).select(id_col)
        n_old = (
            new_docs.select(id_col).join(existing, id_col, "semi").count()
        )
        if n_old:
            raise ValueError(
                f"update_postings_index: {n_old} doc_ids already indexed "
                f"under {index_path} (append-only contract)"
            )
    _write_index(
        _term_freqs(new_docs, text_col, id_col), index_path, id_col,
        mode="append",
    )


def compact_postings_index(
    spark,
    index_path: str,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    n_files: int = 8,
) -> None:
    """Compact an incrementally-grown postings index: rewrite its
    postings, in any layout, as a fresh index beside it — plain
    `n_files`-file parquet, or bucketed by token when `n_buckets` is set
    — then swap the directories (scale.swap_directory), so readers
    never observe a half-written index.  Doclens and the manifest
    re-derive from the postings: compaction is also the recovery path
    after a partially-failed update (a failed rebuild leaves no
    manifest and is re-run instead).  An index of an older format
    raises ValueError."""
    from .scale import _index_table_name, swap_directory

    _read_manifest(spark, index_path)
    posted = _open_postings(spark, index_path, id_col, None)
    if n_buckets is None:
        posted = posted.repartition(n_files)
    tmp = index_path.rstrip("/") + "__compact"
    _write_index(posted, tmp, id_col, n_buckets=n_buckets)
    swap_directory(tmp, index_path)
    # the next probe re-registers the moved files from the manifest
    for path in (tmp, index_path):
        spark.sql(
            f"DROP TABLE IF EXISTS {_index_table_name(f'{path}/postings')}"
        )


RRF_K = 60  # Cormack/Clarke/Buettcher 2009's constant; rank-60 damping


def hybrid_search_rrf(
    docs: DataFrame,
    vectors: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    vid_col: str = "vec_id",
    k_rrf: int = RRF_K,
    per_side: int = 50,
    top_k: int = 15,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): the BM25 keyword ranking and the dense
    embedding-cosine ranking (query = ``query_vec_id``'s embedding, the
    "more like this document" form) fused as

        rrf(d) = sum over modalities of 1 / (k_rrf + rank_m(d))

    with a modality contributing 0 where d is outside its top
    ``per_side``.  Returns (id, sparse_rank, dense_rank, rrf_score)
    for the fused top_k; ranks are NULL for the side that did not
    retrieve the doc.  Reference N/A: the reference has keyword
    containment only (main.py:283-288); this is the standard fusion a
    retrieval stack uses the moment it has both an inverted index and
    an embedding index over the same corpus.

    Scale shape (100 TB): fusion is RANK-space — it consumes two
    (id, rank) lists of ``per_side`` rows each, so the fused stage is
    constant-size no matter the corpus; all corpus-scale work lives in
    the two retrieval tiers, each already scale-shaped (BM25: filtered
    postings + scalar stats, the bm25_search dataflow; dense: one
    broadcast query vector against a linear scan here, the ivf_knn /
    LSH-bucketed ANN tiers at real scale — RRF consumes any ranked
    list, so swapping the exact tier for an ANN tier changes recall,
    not the fusion dataflow).  Both top-lists are TakeOrdered
    (distributed top-k, no global sort); the rank row_numbers run over
    per_side-bounded rows (the vocab_coverage bounded-window
    convention).

    Oracle exactness: BM25 side reuses bm25_search's DECIMAL-summed,
    round-6 score (ranking on the rounded value, so both engines rank
    identical doubles); dense side uses the DECIMAL dot chain
    (similarity._dot_dec, the knn_bruteforce convention); rrf_score is
    two IEEE divisions and one add, rounded to 6; all ties break by id.
    """
    from .similarity import _dot_dec

    sparse_top = bm25_search(
        docs, query_terms, text_col, id_col, top_k=per_side
    )
    w_sparse = Window.orderBy(F.desc("score"), F.asc(id_col))
    sparse = sparse_top.select(
        id_col, F.row_number().over(w_sparse).alias("sparse_rank")
    )

    q = vectors.where(F.col(vid_col) == query_vec_id).select(
        F.col(vec_col).alias("q_emb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("q_norm"),
    )
    scored = (
        vectors.where(F.col(vid_col) != query_vec_id)
        .select(
            F.col(vid_col).alias(id_col),
            F.col(vec_col).alias("c_emb"),
            F.sqrt(_dot_dec(vec_col, vec_col)).alias("c_norm"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            (
                _dot_dec("q_emb", "c_emb")
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    dense_top = scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(per_side)
    w_dense = Window.orderBy(F.desc("cosine"), F.asc(id_col))
    dense = dense_top.select(
        id_col, F.row_number().over(w_dense).alias("dense_rank")
    )

    fused = sparse.join(dense, id_col, "full_outer")
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col("sparse_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col("dense_rank")), F.lit(0.0)
        ),
        6,
    ).alias("rrf_score")
    return (
        fused.select(id_col, "sparse_rank", "dense_rank", rrf)
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(top_k)
    )


def positional_tokens(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional postings: (doc_id, pos, token), pos 1-based over the
    lowercase whitespace tokenization — the index layout phrase and
    proximity queries need (a plain term index cannot distinguish
    "stream table" from "table stream")."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("pos0", "token"),
        )
        .where(F.col("token") != "")
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "token")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over the positional index: a document
    matches where the phrase's tokens occupy CONSECUTIVE positions —
    k-1 equi-joins on (doc, pos + offset), the classic positional-
    postings phrase plan (Manning/Raghavan/Schütze IR ch.2).

    100 TB shape: each join touches only the phrase TERMS' postings
    (the scan prunes on token before any join), keyed on (doc, pos) —
    co-partitioned after the first shuffle; join the rarest term
    first at cluster scale (the df-ordering refinement; phrase order
    here keeps the oracle formulation readable).  Returns
    (doc_id, n_occurrences) per matching doc, deterministically
    ordered."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search: empty phrase")
    idx = positional_tokens(docs, text_col, id_col)
    cur = idx.where(F.col("token") == terms[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    for k, term in enumerate(terms[1:], start=1):
        nxt = idx.where(F.col("token") == term).select(
            id_col, (F.col("pos") - k).alias("p0")
        )
        cur = cur.join(nxt, [id_col, "p0"])
    return (
        cur.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(id_col)
    )


def boolean_search(
    docs: DataFrame,
    must: tuple[str, ...],
    any_of: tuple[str, ...] = (),
    none_of: tuple[str, ...] = (),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boolean retrieval over the postings (Manning/Raghavan/Schütze
    IR ch.1): documents containing ALL `must` terms, at least one
    `any_of` term (when given), and NO `none_of` term — the
    AND/OR/NOT filter tier under the ranked tiers (bm25_search,
    phrase_search, hybrid RRF), and the shape a curation pipeline
    uses for keyword include/exclude corpus carving.

    100 TB shape: every stage touches only the QUERY terms' postings
    — the distinct (doc, token) projection is filtered to
    must+any+none tokens BEFORE any join (the filter reaches the
    scan), the AND is one groupBy counting distinct must terms per
    doc (= |must| ⇒ all present; no |must|-way self-join), the OR a
    left-semi, the NOT a left-anti — each keyed on the doc id.
    Returns (doc_id, n_any) with n_any = how many distinct any_of
    terms matched (0 when any_of is empty), deterministically
    ordered."""
    must = tuple(t.lower() for t in must)
    any_of = tuple(t.lower() for t in any_of)
    none_of = tuple(t.lower() for t in none_of)
    if not must:
        raise ValueError("boolean_search: at least one must-term required")
    overlap = (set(must) | set(any_of)) & set(none_of)
    if overlap:
        raise ValueError(f"boolean_search: terms both required and excluded: {sorted(overlap)}")
    wanted = set(must) | set(any_of) | set(none_of)
    posts = (
        _tokens(docs, text_col, id_col)
        .where(F.col("token").isin(*sorted(wanted)))
        .distinct()
    )
    # The postings subtree feeds up to three branches (must aggregate,
    # none_of anti, any_of count) — without a persist Spark recomputes
    # the docs scan + tokenize + distinct once per branch.  Persist
    # DISK_ONLY (the repo's reused-subtree convention: blocks cost the
    # unified memory pool nothing, and the query-terms-only postings
    # re-read in milliseconds) only when >1 branch will actually probe
    # it; a must-only query consumes it exactly once and a
    # materialization would be pure overhead.
    n_consumers = 1 + bool(none_of) + bool(any_of)
    if n_consumers > 1:
        from .. import materialize as _mat

        posts = _mat.track(posts.persist(StorageLevel.DISK_ONLY))
    hits = (
        posts.where(F.col("token").isin(*must))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_must"))
        .where(F.col("_n_must") == len(must))
        .select(id_col)
    )
    if none_of:
        hits = hits.join(
            posts.where(F.col("token").isin(*none_of)).select(id_col),
            id_col,
            "left_anti",
        )
    if any_of:
        anyc = (
            posts.where(F.col("token").isin(*any_of))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_any"))
        )
        return (
            hits.join(anyc, id_col)
            .select(id_col, "n_any")
            .orderBy(id_col)
        )
    return hits.select(
        id_col, F.lit(0).cast("long").alias("n_any")
    ).orderBy(id_col)
