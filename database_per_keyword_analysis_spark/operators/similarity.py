"""Similarity search over embedding columns (north star; SURVEY.md §2.11).

`embeddings(vec_id, embedding ARRAY<FLOAT>, label)` fixtures.  Two tiers:

  * brute-force cosine top-k — the correctness baseline.  Dot products
    and norms are computed with built-in higher-order functions
    (`zip_with` + `aggregate`) entirely JVM-side; per-element products are
    IEEE doubles (bit-identical in any engine) accumulated in DECIMAL so
    the result is independent of addition order → oracle-stable floats;
  * hyperplane-LSH bucketed top-k — the scale path: vectors are bucketed
    by the sign pattern of H deterministic pseudo-random hyperplanes, and
    only same-bucket pairs are compared.  Approximate (recall < 1), so it
    is NOT oracle-checked against SQL; tests measure recall against the
    brute-force tier instead.

At 100 TB: brute-force is O(Q·N) — fine when Q is small and N is
broadcast-partitioned; the LSH tier makes N·N self-join feasible by
turning it into an equi-join on bucket id.
"""

from __future__ import annotations

import weakref

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under future-annotations
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scale import (
    ALL_PAIRS_DEFAULT_CAP,
    assert_all_pairs_safe,
    drop_manifest,
    read_manifest,
)

# 28,12 leaves precision headroom: decimal(28,12)+decimal(28,12) →
# decimal(29,12), re-cast in the merge so the accumulator type is stable
# (at precision 38 Spark would instead SHRINK the scale, breaking the
# aggregate's type contract).
_DEC = "decimal(28,12)"


def _dot_dec(a: str, b: str) -> Column:
    """Order-independent dot product of two float arrays (see module doc)."""
    return F.expr(
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS {_DEC})), "
        f"CAST(0 AS {_DEC}), (acc, v) -> CAST(acc + v AS {_DEC})) AS DOUBLE)"
    )


def _dot_dbl(a: str, b: str) -> Column:
    """Plain double dot product — for the APPROXIMATE tiers only (not
    oracle-hashed; element order within one row is fixed, so still
    deterministic run-to-run) at ~3× the speed of the decimal chain."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_py(a, b) -> float:
    """`_dot_dbl` on the driver: the same double products summed left
    to right from 0.0, so the value is bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest other
    vectors.  Returns (query_id, neighbor_id, cosine, rank).

    The query side is broadcast (small); candidates stream through one
    codegen stage computing the dot; the per-query top-k is a window over
    |Q|·k-bounded data after an early `row_number` cut.
    """
    # norms once per vector (not per pair): the pair stage then computes
    # only the dot product — 3× fewer decimal aggregates in the hot loop.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("q_norm"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("c_norm"),
    )
    dot = _dot_dec("q_emb", "c_emb")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int | None = ALL_PAIRS_DEFAULT_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine ≥
    threshold).  All-pairs ORACLE tier (sf ≤ 0.1 duty): quadratic by
    construction, size-gated by ``max_rows`` (default
    ``scale.ALL_PAIRS_DEFAULT_CAP``) so it cannot be pointed at a
    cluster-scale table by accident.  The decision-path tiers at scale
    are `semantic_dedup` (cluster-scoped, same keep/drop schema) and
    `cosine_near_dups_lsh` (sign-LSH candidates, subset-exact).

    Two-phase scoring: the O(N²) candidate filter runs on the plain
    DOUBLE dot (whole-stage-codegen arithmetic) with a 1e-9 margin, and
    the oracle-stable DECIMAL cosine is recomputed only for the
    survivors and applied as the exact final predicate.  Same output as
    scoring every pair in decimal — a kept pair passes the decimal
    test itself, and a dropped pair would need |double−decimal| ≥ 1e-9
    when the fold error of a per-row zip_with is ~1e-14 relative — at
    ~1/40 the cost (decimal aggregate interpretation dominated the
    all-pairs pass: 220 s → ~6 s for the dup-groups composition at
    sf0.1)."""
    assert_all_pairs_safe(
        vectors, "cosine_near_dup_pairs", max_rows,
        scale_alternative="semantic_dedup / cosine_near_dups_lsh",
    )
    a = vectors.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("na"),
    )
    b = vectors.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("nb"),
    )
    fast = _dot_dbl("ea", "eb") / (F.col("na") * F.col("nb"))
    exact = _dot_dec("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(fast >= threshold - 1e-9)
        .select("vec_a", "vec_b", exact.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


LSH_MIN_PLANES = 6
LSH_MAX_PLANES = 58  # 16 tables × 2^58-ary keys still fit an int64 bucket id
LSH_TARGET_BUCKET_OCCUPANCY = 40


def lsh_n_planes(
    n_vectors: int, target_occupancy: int = LSH_TARGET_BUCKET_OCCUPANCY
) -> int:
    """Plane count for a corpus of `n_vectors`: smallest H with
    2^H ≥ n_vectors / target_occupancy, floored at LSH_MIN_PLANES.

    Round-6 judge finding: with planes FIXED at 6 (64 buckets/table),
    10× rows in the same buckets gave ~100× in-bucket candidate pairs —
    measured 14× wall (SCALE.md round-6 curve); hand-retuning to 9
    planes measured 5.8×.  This derivation is that log2-of-growth rule
    in code (the `bloom_m_bits` fix pattern): bucket count tracks N, so
    expected bucket occupancy — and with it per-bucket pair work
    N²/B ∝ occupancy·N — stays a constant factor of N rather than
    N²/const.  The occupancy target 40 reproduces the historical
    default (H=6) at the sf0.1 fixture (N=2000) and the measured 9-plane
    retuning at the 10× fixture (N=20000), so fixture behavior and the
    recall floor pinned by tests are unchanged at small N.  n_tables is
    deliberately NOT derived here: planes trade candidate volume,
    tables trade recall — separable knobs (SCALE.md).  Capped at
    LSH_MAX_PLANES so n_tables·2^H bucket ids stay within int64
    (reached only past ~10^18 vectors)."""
    import math

    if n_vectors <= target_occupancy:
        return LSH_MIN_PLANES
    return min(
        LSH_MAX_PLANES,
        max(LSH_MIN_PLANES, math.ceil(math.log2(n_vectors / target_occupancy))),
    )


def cosine_near_dups_lsh(
    vectors: DataFrame,
    threshold: float = 0.99,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Scale twin of `cosine_near_dup_pairs`: same (vec_a, vec_b, cosine)
    surface, but the N² cross-join becomes a bucket self-equi-join —
    candidates are pairs sharing a sign-LSH bucket in ANY table, then
    verified with the EXACT cosine (so output ⊆ exact output; only
    recall is approximate, and at near-dup thresholds it is ~1: a
    cosine-0.99 pair lands in a shared bucket with
    P = 1-(1-(1-θ/π)^H)^L ≈ 1-0.24^16 for H=6, L=16).

    Pair candidates are deduped as bare id pairs BEFORE embeddings are
    re-joined, so the distinct shuffle moves ids, not vectors.  The
    (id, bucket) table is read twice by the self-join; it is
    n_tables×N rows, so it must NOT live in executor memory at scale:
    with `index_path` set it is written once as a parquet LSH index and
    both join sides scan the files (the production posture — build the
    index once, join against it many times); without a path it is
    persisted DISK_ONLY (spills to local disk, never pins the ~L·N·24 B
    — 38 GB per 10⁹ vectors at L=16 — in memory the way `.cache()`
    would).  The verify cosine is one Arrow batch pass (numpy), not
    per-element lambda evaluation over every candidate.

    `n_planes=None` (the default) derives the plane count from the
    corpus size via `lsh_n_planes` — one count() job at plan-build time
    buys a bucket count that tracks N, keeping in-bucket candidate work
    linear instead of quadratic as data grows (SCALE.md measured curve).
    Pass `n_vectors` to skip that sizing scan when the caller already
    knows N (a maintained index's row count, catalog/metadata stats, a
    prior stage's count) — at 100 TB the count() is a full-corpus job
    worth avoiding when the answer is already on hand; the derivation
    only needs N to within a factor of 2 (one plane).  Pass an explicit
    `n_planes` int to pin the plane count outright (the recall tests
    pin the 6-plane floor's behavior at fixture N, where the
    derivation returns 6).
    """
    import numpy as np
    from pyspark import StorageLevel

    if n_planes is None:
        n_planes = lsh_n_planes(
            n_vectors if n_vectors is not None else vectors.count()
        )
    withb = vectors.select(
        F.col(id_col).alias("id"),
        F.explode(_bucket_array(vec_col, dim, n_planes, n_tables)).alias("bucket"),
    )
    if index_path is not None:
        withb.write.mode("overwrite").parquet(index_path)
        withb = vectors.sparkSession.read.parquet(index_path)
    else:
        from .. import materialize as _mat

        withb = _mat.track(withb.persist(StorageLevel.DISK_ONLY))
    cand = (
        withb.select(F.col("id").alias("vec_a"), "bucket")
        .join(withb.select(F.col("id").alias("vec_b"), "bucket"), "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        return pd.Series(
            (A * B).sum(1)
            / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
        )

    a = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    b = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos(F.col("ea"), F.col("eb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes via a tiny LCG —
    no numpy dependency at plan-build time, reproducible everywhere."""
    state = seed * 2654435761 % (2**32)
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append((state / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _bucket_array(col: str, dim: int, n_planes: int, n_tables: int) -> Column:
    """Multi-table sign-LSH bucket keys: one 2^n_planes-ary key per table,
    offset so tables never collide.  All n_tables×n_planes projections
    are ONE numpy matmul per Arrow batch (a per-plane
    `aggregate(zip_with(...))` expression chain runs interpreted lambdas
    — ~5× slower for H·L ≈ 100 planes); the plane matrix is a task-local
    constant, so the whole bucketing stays a narrow shuffle-free map."""
    import numpy as np

    P = np.array(
        [
            row
            for t in range(n_tables)
            for row in _hyperplanes(dim, n_planes, seed=7 + 131 * t)
        ]
    )  # (n_tables*n_planes) × dim
    weights = np.tile(2 ** np.arange(n_planes), n_tables).reshape(
        n_tables, n_planes
    )
    offsets = (np.arange(n_tables) * 2**n_planes).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy()).astype(np.float64)
        bits = (X @ P.T > 0).reshape(len(X), n_tables, n_planes)
        keys = (bits * weights).sum(2) + offsets
        return pd.Series(list(keys))

    return buckets(F.col(col))


def lsh_bucketed_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Each of `n_tables` tables buckets vectors by the sign pattern of
    `n_planes` hyperplanes; candidates are vectors sharing the query's
    bucket in ANY table (union via explode + equi-join on (table, bucket)
    + distinct).  For sign-LSH, P(candidate) = 1-(1-(1-θ/π)^H)^L — with
    H=6, L=16 a cosine-0.5 neighbor is found ~75% of the time, and the
    per-table join does ~N²/2^H work instead of N².  Tuning H/L trades
    recall against cost; recall is measured in tests, not oracle-checked.
    """

    def buckets(col: str) -> Column:
        return _bucket_array(col, dim, n_planes, n_tables)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.explode(buckets(vec_col)).alias("bucket"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.explode(buckets(vec_col)).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q.select("query_id", "bucket")), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "c_emb")
        .distinct()
    )
    dot = _dot_dec("q_emb", "c_emb")
    qside = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("q_norm"),
    )
    scored = (
        cand.withColumn("c_norm", F.sqrt(_dot_dec("c_emb", "c_emb")))
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) tier: coarse k-means quantizer + probed cluster
# search — the other classic ANN scale path next to hyperplane LSH.
# ---------------------------------------------------------------------------

def _kmeans_np(X, k: int, seed: int, max_iter: int = 20, tol: float = 1e-6):
    """Deterministic Lloyd k-means with kmeans++ seeding on a driver-side
    numpy sample.  Centroids are k×dim — tiny — so distributed training
    buys nothing once the sample fixes them."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    # kmeans++ init
    centers = [X[rng.randint(n)]]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for _ in range(1, k):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(X[rng.choice(n, p=p)])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(1))
    C = np.stack(centers)
    for _ in range(max_iter):
        # argmin ||x-c||^2 = argmin (||c||^2 - 2 x·c); ties -> first index
        assign = ((C * C).sum(1) - 2.0 * (X @ C.T)).argmin(1)
        newC = C.copy()
        for j in range(k):
            m = assign == j
            if m.any():  # empty cluster keeps its old centroid
                newC[j] = X[m].mean(0)
        shift = float(((newC - C) ** 2).sum())
        C = newC
        if shift <= tol:
            break
    return C


# The IVF index manifest, `centroids/` under `index_path`: one parquet
# file, a row per list; `n_buckets` (NULL when plain) and `assigned`'s
# schema DDL repeat on every row.
_MANIFEST = "list_id INT, centroid ARRAY<DOUBLE>, n_buckets INT, schema STRING"


def ivf_index(
    vectors: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_train: int = 65536,
    index_path: str | None = None,
    n_buckets: int | None = None,
):
    """Build an IVF index: k-means centroids (the coarse quantizer) and
    the vector→list assignment.

    Returns (assigned DataFrame with `list_id`, centroids list-of-lists).

    Scale design: centroids are trained on a deterministic hash-ordered
    sample of ≤`max_train` rows collected to the driver and fit with
    numpy Lloyd iterations — k-means on 100 TB is neither needed nor
    possible; n_lists≪N means a bounded sample fixes the same centroids,
    and driver-side training avoids ~max_iter distributed jobs (one
    TakeOrdered scan instead).  Assignment is ONE narrow Arrow-vectorized
    pass over the corpus (argmin over ||x−c||², no shuffle, no
    N×n_lists row blow-up), and the centroid table is driver-small
    (n_lists × dim floats) — it broadcasts into the probe join.

    With `index_path` set this is the "train once, probe many" seam: the
    assignment is written as parquet PARTITIONED BY list_id (probes prune
    to the n_probe lists they touch) or, with `n_buckets`, hash-bucketed
    and sorted by list_id (scale.write_bucketed_index) so semantic_dedup's
    self-equi-join on list_id has NO Exchange and a list_id filter prunes
    whole buckets — the 100 TB probe layout.  The manifest (`_MANIFEST`)
    is written last and records the layout, so no caller repeats it and
    a build that fails before it leaves no index; over an existing index
    the old manifest is deleted before `assigned` is rewritten, so a
    failed rebuild leaves no index either.
    """
    import numpy as np

    train = (
        vectors.select(F.col(vec_col))
        # hash order makes the sample deterministic under ANY partitioning
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(max_train)
        .collect()
    )
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in train])
    C = _kmeans_np(X, n_lists, seed)
    centroids = [list(map(float, c)) for c in C]

    assigned = ivf_assign(vectors, centroids, vec_col, id_col)
    if index_path is None:
        return assigned, centroids
    from .scale import write_bucketed_index

    spark = vectors.sparkSession
    drop_manifest(spark, index_path + "/centroids")
    if n_buckets is None:
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(
            index_path + "/assigned"
        )
    else:
        write_bucketed_index(
            assigned, index_path + "/assigned", ["list_id"], n_buckets
        )
    ddl = assigned.schema.toDDL()
    spark.createDataFrame(
        [(i, c, n_buckets, ddl) for i, c in enumerate(centroids)], _MANIFEST
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/centroids")
    return ivf_load(spark, index_path)


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign vectors to their nearest centroid (the IVF coarse
    quantizer): argmin ||x−c||² over the given centroid set, one
    Arrow-vectorized pass, no shuffle.  Shared by the initial build
    (`ivf_index`) and incremental maintenance (`ivf_add`) so both paths
    quantize identically."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(1)

    @F.pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        V = np.stack(s.to_numpy()).astype(np.float64)
        return pd.Series(((c2 - 2.0 * (V @ C.T)).argmin(1)).astype("int32"))

    return vectors.select(
        id_col, vec_col, assign(F.col(vec_col)).alias("list_id")
    )


def ivf_add(
    new_vectors: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assert_new_ids: bool = True,
) -> None:
    """Incremental IVF maintenance: quantize ONLY the new vectors
    against the PERSISTED centroids (the quantizer stays frozen — the
    FAISS `add` convention; retrain = rebuild when drift accumulates)
    and append them into the list_id-partitioned assignment layout.
    Probes see old + new vectors with no bookkeeping: appends land as
    extra files inside the matching `list_id=` partitions, so partition
    pruning keeps working.  Targets the PLAIN partitioned layout: a
    bucketed index raises ValueError (rebuild-only, the
    update_postings_index rule).

    With `assert_new_ids` (default) an id semi-join against the
    existing assignment turns silent double-insertion into an error —
    the append-only contract shared with the postings/fingerprint
    index maintainers."""
    spark = new_vectors.sparkSession
    centroids, n_buckets, schema = _read_manifest(spark, index_path)
    if n_buckets is not None:
        raise ValueError(f"ivf_add: {index_path} is bucketed (rebuild-only)")
    if assert_new_ids:
        existing = spark.read.schema(schema).parquet(index_path + "/assigned")
        n_old = (
            new_vectors.select(id_col)
            .join(existing.select(id_col), id_col, "semi")
            .count()
        )
        if n_old:
            raise ValueError(
                f"ivf_add: {n_old} vec_ids already indexed under "
                f"{index_path} (append-only contract)"
            )
    ivf_assign(new_vectors, centroids, vec_col, id_col).write.mode(
        "append"
    ).partitionBy("list_id").parquet(index_path + "/assigned")


def _read_manifest(spark, index_path: str):
    """(centroids in list_id order, n_buckets, assigned schema DDL) from
    the manifest, read once per commit (scale.read_manifest) and sorted
    on the driver.  FileNotFoundError when none is committed, ValueError
    when it predates the recorded schema."""
    rows = read_manifest(spark, index_path + "/centroids", _MANIFEST)
    if rows is None:
        raise FileNotFoundError(f"no IVF index manifest under {index_path}")
    if rows[0].schema is None:
        raise ValueError(
            f"{index_path}: IVF index of an older format (no recorded "
            "schema); rebuild it"
        )
    rows = sorted(rows, key=lambda r: r.list_id)
    centroids = [list(r.centroid) for r in rows]
    return centroids, rows[0].n_buckets, rows[0].schema


# Each `assigned` frame ivf_load returned, weakly, with the index it
# opened: (index_path, n_buckets).  ivf_probe reads the files of such a
# frame on the driver; a frame derived from it is a new object, absent
# here, and takes the Spark plan.
_OPENED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def ivf_load(spark, index_path: str):
    """Open a persisted IVF index built by `ivf_index(index_path=...)`
    as the same (assigned, centroids) pair.  The manifest is read with
    an explicit schema once per commit (one Spark job; none while it is
    unchanged) and sorted on the driver, and `assigned` opens in the
    recorded layout and schema (a bucketed table is re-registered with
    one DDL in a session that has not seen it).  Never re-runs training
    or the assignment UDF.  Raises FileNotFoundError when no index is
    committed and ValueError on a manifest of an older format.  The
    returned `assigned`, passed to ivf_probe unmodified, lets a small
    local index be probed on the driver from its files."""
    from .scale import read_bucketed_index

    centroids, n_buckets, schema = _read_manifest(spark, index_path)
    if n_buckets is None:
        assigned = spark.read.schema(schema).parquet(index_path + "/assigned")
    else:
        assigned = read_bucketed_index(
            spark, index_path + "/assigned", ["list_id"], n_buckets, schema
        )
    _OPENED[assigned] = (index_path, n_buckets)
    return assigned, centroids


def ivf_index_exists(spark, index_path: str) -> bool:
    """True when the manifest is committed at `index_path` on any
    Hadoop-visible filesystem.  `ivf_index` writes it after the
    assignment, so a build that failed before it reads as absent."""
    p = spark._jvm.org.apache.hadoop.fs.Path(index_path + "/centroids/_SUCCESS")
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _load_or_build(vectors, index_path, n_lists, vec_col, id_col, seed):
    """The committed index at `index_path` in its recorded layout, else
    one built from `vectors` (persisted plain at `index_path` if set)."""
    spark = vectors.sparkSession
    if index_path is not None and ivf_index_exists(spark, index_path):
        return ivf_load(spark, index_path)
    return ivf_index(
        vectors, n_lists, vec_col, id_col, seed, index_path=index_path
    )


def ivf_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    index_path: str | None = None,
) -> DataFrame:
    """IVF-probed approximate top-k cosine: each query searches only its
    `n_probe` nearest inverted lists instead of the whole corpus —
    compare ~n_probe/n_lists of the candidates of brute force.

    With `index_path` set, a committed index there is REUSED in its
    recorded layout (train once, probe many — no k-means, no assignment
    pass; the probe reads only the probed lists, on the driver when they
    are small and local, see ivf_probe); absent one, the index is built
    and persisted there, plain, for every later call.  Without a path,
    build is inline (the labeled baseline form).
    """
    assigned, centroids = _load_or_build(
        vectors, index_path, n_lists, vec_col, id_col, seed
    )
    return ivf_probe(
        assigned, centroids, queries, k, n_probe, vec_col, id_col
    )


def ivf_probe(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe stage of IVF: search each query's n_probe nearest inverted
    lists.  Returns (query_id, neighbor_id, cosine, rank), the k nearest
    other vectors per query by cosine (ties to the lower neighbor_id),
    ordered by query_id and rank.  `queries` is request-sized — one row
    per request, ten in the catalog, at most twenty in tests — and is
    fetched to the driver once (a job unless it is a local frame).
    There the centroids are ranked per query by the assignment metric
    (min ||q−c||² ⇔ max 2 q·c − ||c||², ties to the lower list_id) in
    `_dot_dbl`'s double arithmetic, which fixes the probed lists.

    Two paths compute the same rows with the same schema:

    * driver — when `assigned` is the unmodified frame ivf_load returned
      (also through ivf_index or ivf_knn with `index_path`), the index
      is on the local filesystem, and the files read total at most
      scale.DRIVER_PROBE_MAX_BYTES: the probed lists' files (`list_id=`
      directories, or the bucket files with `list_id IN` pushed down)
      are read with pyarrow and scored in numpy in `_dot_dbl`'s order,
      into a local frame.  A warm request then runs no Spark job past
      the query fetch.  Candidates the numpy path does not model (null,
      ragged or non-finite vectors, a zero norm) fall back to the plan,
      so its errors and NULLs are the ones raised.
    * Spark plan — otherwise, and the path that scales: `assigned` is
      read with a literal `list_id IN (…)` that prunes partitions or
      buckets at plan time, the |Q|·n_probe (query, list) rows broadcast
      into an equi-join on list_id, top-k per query takes one shuffle,
      and the final ≤|Q|·k rows sort in one task.

    A corpus-sized query set is semantic_dedup's list_id self-join, not
    a probe."""
    import math

    cc = [_dot_py(c, c) for c in centroids]
    probes = []
    for r in queries.select(id_col, vec_col).collect():
        q = [float(x) for x in r[vec_col]]
        ranked = sorted(
            range(len(centroids)),
            key=lambda i: (-(2.0 * _dot_py(q, centroids[i]) - cc[i]), i),
        )
        q_norm = math.sqrt(_dot_py(q, q))
        probes += [(r[id_col], i, q, q_norm) for i in ranked[:n_probe]]
    lists = sorted({p[1] for p in probes})
    id_type = queries.schema[id_col].dataType
    local = _driver_probe(assigned, probes, lists, id_type, k, vec_col, id_col)
    if local is not None:
        return local
    return _spark_probe(assigned, probes, lists, id_type, k, vec_col, id_col)


def _driver_probe(assigned, probes, lists, id_type, k, vec_col, id_col):
    """_spark_probe's result computed in this process from the index
    files as committed now, or None where the plan must run
    (ivf_probe).  Both dot products sum left to right from 0.0 over
    columns (`acc = acc + E[:, j] * q[j]`), as `_dot_dbl`'s aggregate
    does, then sqrt and the same division: the cosines are
    bit-identical.  No `np.dot`: it sums in another order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from . import scale

    opened = _OPENED.get(assigned)
    nid_field = assigned.schema[id_col]
    d = len(probes[0][2]) if probes else 0
    if (
        opened is None
        or nid_field.dataType != id_type
        or any(len(p[2]) != d for p in probes)
    ):
        return None
    index_path, n_buckets = opened
    spark = assigned.sparkSession
    subdirs = None if n_buckets else [f"list_id={i}" for i in lists]
    local = scale.local_data_files(spark, f"{index_path}/assigned", subdirs)
    if local is None or local[2] > scale.DRIVER_PROBE_MAX_BYTES:
        return None
    root, files, _ = local
    rows = []
    if files:
        hive = ds.partitioning(pa.schema([("list_id", pa.int32())]), flavor="hive")
        cand = ds.dataset(
            files, format="parquet", partition_base_dir=root,
            partitioning=None if n_buckets else hive,
        ).to_table(
            columns=[id_col, vec_col, "list_id"],
            filter=ds.field("list_id").isin(lists),
        )
        emb = cand.column(vec_col).combine_chunks()
        flat = emb.flatten()
        if (
            cand.column(id_col).null_count or emb.null_count or flat.null_count
            or len(cand)
            and pc.min_max(pc.list_value_length(emb)).as_py()
            != {"min": d, "max": d}
        ):
            return None
        E = flat.to_numpy(zero_copy_only=False).astype(np.float64)
        E = E.reshape(len(cand), d)
        ids = cand.column(id_col).to_numpy(zero_copy_only=False)
        list_of = cand.column("list_id").to_numpy()
        c_norm = np.zeros(len(E))
        for j in range(d):
            c_norm = c_norm + E[:, j] * E[:, j]
        c_norm = np.sqrt(c_norm)
        found: dict = {}
        for query_id, i, q, q_norm in probes:
            if query_id is None:  # `query_id != neighbor_id` is NULL: no row
                continue
            sel = np.flatnonzero((list_of == i) & (ids != query_id))
            dot = np.zeros(len(sel))
            for j in range(d):
                dot = dot + E[sel, j] * q[j]
            with np.errstate(divide="ignore", invalid="ignore"):
                cosine = dot / (q_norm * c_norm[sel])
            if not np.isfinite(cosine).all():
                return None
            found.setdefault(query_id, []).extend(
                zip(cosine.tolist(), ids[sel].tolist())
            )
        rows = [
            (query_id, neighbor_id, cosine, rank)
            for query_id in sorted(found)
            for rank, (cosine, neighbor_id) in enumerate(
                sorted(found[query_id], key=lambda r: (-r[0], r[1]))[: max(k, 0)],
                start=1,
            )
        ]
    # the Spark plan's schema, nullability included
    schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", nid_field.dataType, nid_field.nullable),
            StructField("cosine", DoubleType()),
            StructField("rank", IntegerType(), False),
        ]
    )
    cols = list(zip(*rows)) if rows else ([],) * 4
    return spark.createDataFrame(
        pa.table(
            [
                pa.array(c, to_arrow_type(f.dataType))
                for c, f in zip(cols, schema.fields)
            ],
            names=schema.names,
        ),
        schema,
    )


def _spark_probe(assigned, probes, lists, id_type, k, vec_col, id_col):
    """ivf_probe's Spark plan over the driver-ranked `probes`."""
    import pyarrow as pa

    query_id, list_id, q_emb, q_norm = zip(*probes) if probes else ([],) * 4
    # from Arrow, a LocalRelation: no Python RDD, no runtime pruning subquery
    qc = assigned.sparkSession.createDataFrame(
        pa.table(
            {
                "query_id": pa.array(query_id),
                "list_id": pa.array(list_id, pa.int32()),
                "q_emb": pa.array(q_emb, pa.list_(pa.float64())),
                "q_norm": pa.array(q_norm, pa.float64()),
            }
        )
    ).withColumn("query_id", F.col("query_id").cast(id_type))
    cand = assigned.where(F.col("list_id").isin(*lists)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_emb"), "list_id"
    )
    scored = (
        cand.join(F.broadcast(qc), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("c_norm", F.sqrt(_dot_dbl("c_emb", "c_emb")))
        .select(
            "query_id",
            "neighbor_id",
            (_dot_dbl("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .coalesce(1)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# SemDeDup tier: semantic (embedding-space) deduplication via
# cluster-then-compare (Abbas et al. 2023, arXiv:2303.09540) — the scale
# recipe that makes embedding dedup of a web-scale corpus tractable by
# restricting the pair search to within k-means clusters.
# ---------------------------------------------------------------------------

def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.99,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    index_path: str | None = None,
) -> DataFrame:
    """Semantic dedup decision per vector: cluster the corpus with the
    IVF coarse quantizer (deterministic k-means, `ivf_index`), compare
    cosine only WITHIN each cluster, and reduce the surviving pairs to
    keeper groups with the shared connected-components machinery.

    Returns (vec_id, group_id, group_size, dup_rank, is_duplicate) —
    the same decision schema as `dedup.minhash_dup_groups`, so
    `curation.apply_curation` consumes either tier unchanged.

    Approximate by construction: a near-dup pair split across two
    clusters is missed (SemDeDup accepts exactly this trade; recall vs
    the all-pairs tier is what tests measure).  Deterministic: seeded
    k-means on a hash-ordered sample ⇒ same clusters, same groups, every
    run.

    Scale design: the all-pairs O(N²) compare becomes Σ|cluster|² via a
    self-equi-join on list_id — the same candidate-bounding idea as the
    banded-LSH text tier, with cluster granularity (n_lists) the knob
    that trades recall for join fan-out.  Assignment is one broadcast
    argmin pass (ivf_index); the group reduction shuffles only the
    surviving pair list.

    `index_path` is ivf_knn's cluster-once/dedup-many seam (a bucketed
    index makes the self-join Exchange-free).
    """
    from . import dedup as DD

    assigned, _ = _load_or_build(
        vectors, index_path, n_lists, vec_col, id_col, seed
    )
    a = assigned.select(
        "list_id",
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        F.sqrt(_dot_dbl(vec_col, vec_col)).alias("na"),
    )
    b = assigned.select(
        "list_id",
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        F.sqrt(_dot_dbl(vec_col, vec_col)).alias("nb"),
    )
    pairs = (
        a.join(b, "list_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (_dot_dbl("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return (
        DD.dup_groups(pairs, "vec_a", "vec_b")
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy("vec_id")
    )


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector absmax int8 quantization: q_i = round(x_i / scale ·
    127) with scale = max|x_i| — a 4× storage cut for float32 embedding
    corpora (the difference between 100 TB of vectors fitting one
    cluster's disks or not), with reconstruction error ≤ scale/254 per
    dimension.  Returns (id, scale, qvec ARRAY<INT>, max_abs_err).

    Pure per-row expressions — zero shuffle, parallel with the scan;
    dequantize with :func:`dequantize_embeddings`.  Cosine/IVF tiers
    accept the dequantized vectors unchanged (error bound asserted in
    tests)."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))), F.lit(1e-12)
    )
    qv = F.transform(x, lambda v: F.round(v / scale * 127.0).cast("long"))
    err = F.array_max(
        F.zip_with(
            qv, x, lambda q, v: F.abs(q.cast("double") * scale / 127.0 - v)
        )
    )
    return vectors.select(
        id_col,
        scale.alias("scale"),
        qv.cast("array<int>").alias("qvec"),
        err.alias("max_abs_err"),
    )


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: (id, embedding
    ARRAY<DOUBLE>) reconstructed as q_i · scale / 127."""
    return quantized.select(
        id_col,
        F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale") / 127.0
        ).alias("embedding"),
    )


def knn_eval_metrics(
    vectors: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality metrics for the embedding space: treat each of
    the first ``n_queries`` vectors as a query, its exact cosine top-k
    (knn_bruteforce) as the retrieved list, and same-``label_col`` as
    the relevance proxy — the standard eval loop a training-data
    pipeline runs on an embedding index before trusting it for
    dedup/retrieval (cf. BEIR-style recall/nDCG reporting).

    Returns one row per query: (query_id, n_rel, recall_at_k, mrr,
    ndcg_at_k), round-6 doubles, where n_rel counts same-label corpus
    vectors excluding the query itself; all metrics are 0 when n_rel
    is 0.  nDCG uses the binary-gain form DCG = Σ rel/log2(1+rank)
    normalized by the ideal prefix IDCG = Σ_{i≤min(k,n_rel)}
    1/log2(1+i).

    Scale shape (100 TB): the ranked lists come from knn_bruteforce
    here (exact eval at fixture scale; the ANN tiers slot in unchanged
    — the metric chain only consumes (query_id, neighbor_id, rank));
    label totals reduce to one row per label and broadcast back; the
    metric aggregation touches n_queries·k rows.  Eval cost is always
    queries×corpus, never corpus².

    Oracle exactness: ranks from the decimal-dot cosine chain
    (knn_bruteforce convention); per-query sums over ≤k unordered
    rank-indexed terms are order-independent once each term is a
    deterministic double (same IEEE log2/division in both engines);
    final metrics rounded to 6.
    """
    ranked = knn_bruteforce(
        vectors,
        vectors.where(F.col(id_col) < n_queries),
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )
    labels = vectors.select(
        F.col(id_col).alias("_lid"), F.col(label_col).alias("_lbl")
    )
    # relevant-corpus size per label, minus the query itself
    label_totals = labels.groupBy("_lbl").agg(
        F.count(F.lit(1)).alias("_lbl_total")
    )
    qrel = (
        labels.where(F.col("_lid") < n_queries)
        .join(F.broadcast(label_totals), "_lbl")
        .select(
            F.col("_lid").alias("query_id"),
            F.col("_lbl").alias("_qlbl"),
            (F.col("_lbl_total") - 1).cast("long").alias("n_rel"),
        )
    )
    hits = (
        ranked.join(F.broadcast(qrel), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("_lid", "neighbor_id")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "n_rel",
            "rank",
            # CASE form (not boolean-cast): a NULL label must count as
            # not-relevant on both engines, exactly as the oracle's CASE
            F.when(F.col("_lbl") == F.col("_qlbl"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    per_q = hits.groupBy("query_id", "n_rel").agg(
        F.sum("rel").alias("_n_hits"),
        # DECIMAL-accumulated (the bm25 term_score convention): the
        # per-term double is deterministic, the decimal sum order-free
        F.sum(
            (F.col("rel") / F.log2(F.lit(1.0) + F.col("rank"))).cast(
                "decimal(38,18)"
            )
        )
        .cast("double")
        .alias("_dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_first_rel"),
    )
    # ideal DCG over the min(k, n_rel)-length prefix: sequence+aggregate
    # keeps it a scalar expression (no extra join or window)
    idcg = F.expr(
        f"aggregate(sequence(1, int(least(n_rel, {k}))), "
        "cast(0 as double), (acc, i) -> acc + 1.0 / log2(1.0 + i))"
    )
    return (
        per_q.select(
            "query_id",
            "n_rel",
            F.round(
                F.when(
                    F.col("n_rel") > 0,
                    F.col("_n_hits").cast("double") / F.col("n_rel"),
                ).otherwise(0.0),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(1.0 / F.col("_first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.when(
                    F.col("n_rel") > 0, F.col("_dcg") / idcg
                ).otherwise(0.0),
                6,
            ).alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )


def hard_negative_mining(
    vectors: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining over the embedding ranking: for
    each of the first ``n_queries`` vectors, the top-ranked SAME-label
    neighbor in its cosine top-k (the positive) and the top-ranked
    OTHER-label neighbor (the hard negative — ranked high by the index
    yet not relevant, the pair a contrastive finetune actually wants;
    cf. DPR/ANCE-style in-batch hard negatives).  Returns (query_id,
    positive_id, positive_rank, negative_id, negative_rank), NULLs
    where the top-k holds no such neighbor, ordered by query_id.

    Machinery twin of knn_eval_metrics (same ranked+relevance frame;
    conditional-min instead of metric sums) — deferred at birth with a
    DuckDB differential.  Scale shape identical: ranked lists from any
    tier (exact here, ANN at scale), the mining stage touches
    n_queries·k rows.
    """
    ranked = knn_bruteforce(
        vectors,
        vectors.where(F.col(id_col) < n_queries),
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )
    labels = vectors.select(
        F.col(id_col).alias("_lid"), F.col(label_col).alias("_lbl")
    )
    qlbl = labels.where(F.col("_lid") < n_queries).select(
        F.col("_lid").alias("query_id"), F.col("_lbl").alias("_qlbl")
    )
    flagged = (
        ranked.join(F.broadcast(qlbl), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("_lid", "neighbor_id")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.when(F.col("_lbl") == F.col("_qlbl"), 1).otherwise(0).alias("rel"),
        )
        # r14 (guide §2.1): this (n_queries × k)-row table feeds the
        # picks aggregate plus BOTH broadcast id-attach sides — three
        # consumers, each of which re-ran the full brute-force kNN
        # ranking upstream (the audit counted 24 embeddings scans).
        # One localCheckpoint of ~200 rows runs the kNN once.
        # Lifecycle trade (see materialize.py): the checkpoint job
        # runs at query-construction time; executor-only blocks.
        .localCheckpoint()
    )
    picks = flagged.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("positive_rank"),
        F.min(F.when(F.col("rel") == 0, F.col("rank"))).alias("negative_rank"),
    )
    ids = flagged.select("query_id", "neighbor_id", "rank")
    return (
        picks.join(
            F.broadcast(
                ids.select(
                    "query_id",
                    F.col("neighbor_id").alias("positive_id"),
                    F.col("rank").alias("positive_rank"),
                )
            ),
            ["query_id", "positive_rank"],
            "left",
        )
        .join(
            F.broadcast(
                ids.select(
                    "query_id",
                    F.col("neighbor_id").alias("negative_id"),
                    F.col("rank").alias("negative_rank"),
                )
            ),
            ["query_id", "negative_rank"],
            "left",
        )
        .select(
            "query_id",
            "positive_id",
            "positive_rank",
            "negative_id",
            "negative_rank",
        )
        .orderBy("query_id")
    )


def _centroid_scores(
    centroids: list[list[float]], vec_col: str
) -> list[Column]:
    """One affine nearest-centroid score per frozen centroid:
    s_k = dot(x, c_k) − ‖c_k‖²/2, so argmax_k s_k ≡ argmin_k ‖x−c_k‖²
    (the shared ‖x‖² term cancels).  Each dot runs through the DECIMAL
    accumulator (`_dot_dec`) and the half-norm is computed ONCE in
    Python from the same frozen literals the oracle builder reads, so
    the scores — and every comparison between them — are bit-identical
    across engines."""
    scores = []
    for row in centroids:
        arr = "array(" + ", ".join(repr(float(v)) for v in row) + ")"
        half_norm = 0.5 * sum(float(v) * float(v) for v in row)
        scores.append(_dot_dec(vec_col, arr) - F.lit(half_norm))
    return scores


def _frozen_argmax(scores: list[Column]) -> Column:
    """Argmax over the frozen-centroid score columns, ties → lowest
    cluster id (the first `when` that matches wins).  One definition
    shared by `cluster_assign_frozen` and `ivf_knn_frozen` so the two
    tiers can never drift on tie behavior."""
    m = F.greatest(*scores) if len(scores) > 1 else scores[0]
    assign = F.when(scores[0] == m, F.lit(0))
    for k in range(1, len(scores)):
        assign = assign.when(scores[k] == m, F.lit(k))
    return assign.cast("int")


def cluster_assign_frozen(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest FROZEN centroid (exact L2
    argmin, ties → lowest cluster id).

    The k-means TRAINING step is iterative driver-side work (`ivf_index`
    keeps it rows-only); a trained quantizer is a frozen artifact, and
    APPLYING one is a pure per-row expression — the same
    train-free/apply-frozen split as `bpe_encode_frozen`.  K scan-stage
    DECIMAL dots against literal arrays, zero joins, zero shuffles;
    returns (id_col, cluster INT)."""
    scores = _centroid_scores(centroids, vec_col)
    return vectors.select(
        F.col(id_col), _frozen_argmax(scores).alias("cluster")
    )


def cluster_balanced_sample(
    vectors: DataFrame,
    centroids: list[list[float]],
    target_total: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced corpus sampling (the DataComp / cluster-pruning
    curation step, arXiv:2309.17425 §3.4 flavor): assign every vector
    to its nearest frozen centroid, then keep each with probability
    min(1, (target_total/K) / n_cluster) via the deterministic
    md5-uniform draw — over-represented semantic regions are
    down-sampled toward an equal per-cluster budget while sparse
    regions keep everything.

    Scale: assignment is scan-stage (zero shuffle); the per-cluster
    counts aggregate map-side to K rows and BROADCAST back, so no
    full-data shuffle ever happens — a window count over the K-value
    cluster key would be the skew trap (K partitions carrying the whole
    corpus).  The two passes over the input are the scale-correct
    trade: scans parallelize, shuffles on 4-value keys do not.

    Returns (id_col, cluster, n_cluster, kept) — kept is the sampling
    verdict, deterministic for a fixed corpus on any engine."""
    from .curation import uniform_hash

    assigned = cluster_assign_frozen(
        vectors, centroids, vec_col=vec_col, id_col=id_col
    ).withColumn("u", uniform_hash(F.col(id_col)))
    counts = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_cluster")
    )
    per_cluster = float(target_total) / len(centroids)
    kept = F.col("u") < F.least(
        F.lit(1.0), F.lit(per_cluster) / F.col("n_cluster").cast("double")
    )
    return (
        assigned.join(F.broadcast(counts), "cluster")
        .select(id_col, "cluster", "n_cluster", kept.alias("kept"))
        .orderBy(id_col)
    )


def ivf_knn_frozen(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k cosine against a FROZEN coarse quantizer — the
    oracle-checkable form of the ANN decision path.

    `ivf_knn` trains its quantizer per call (k-means is iterative →
    rows-only check); production IVF never does that — it trains ONCE
    and serves every query from the frozen centroids.  This is that
    serving tier: corpus vectors assign to the frozen centroids with
    the same scan-stage affine-score argmax as `cluster_assign_frozen`,
    each query ranks the SAME K scores to pick its `n_probe` probe
    lists, and only those lists' members get the exact DECIMAL cosine
    (the `knn_bruteforce` chain).  Every arithmetic step replays in the
    oracle, so the approximate tier's output is hash-checkable — the
    approximation is in WHICH lists are probed (frozen, deterministic),
    never in how candidates are scored.

    Physical shape: assignment rides the corpus scan (zero shuffle);
    the query→probe fan-out is |Q|·n_probe rows, broadcast into an
    EQUI-join on the cluster id (at index scale: a partition-pruned
    scan of a cluster-partitioned parquet index, cf. `ivf_probe`);
    per-query top-k windows over probe-bounded candidates.  Returns
    (query_id, neighbor_id, cosine, rank), self-matches excluded."""
    scores = _centroid_scores(centroids, vec_col)
    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.sqrt(_dot_dec(vec_col, vec_col)).alias("c_norm"),
        _frozen_argmax(scores).alias("cluster"),
    )
    probe_structs = F.array(
        *[
            F.struct(F.lit(kk).alias("cid"), s.alias("score"))
            for kk, s in enumerate(scores)
        ]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_emb"),
            F.sqrt(_dot_dec(vec_col, vec_col)).alias("q_norm"),
            F.explode(probe_structs).alias("probe"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            F.col("probe.cid").alias("cluster"),
            F.col("probe.score").alias("c_score"),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("c_score"), F.asc("cluster")
                )
            ),
        )
        .where(F.col("c_rank") <= n_probe)
        .drop("c_score", "c_rank")
    )
    scored = (
        corpus.join(F.broadcast(q), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_dec("q_emb", "c_emb")
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_codebooks_from_centroids(
    centroids: list[list[float]], n_sub: int
) -> list[list[list[float]]]:
    """Frozen product-quantizer codebooks derived from the frozen
    coarse centroids: subspace m's codebook is every centroid
    restricted to dimensions [m·d/M, (m+1)·d/M) — the standard PQ
    initialization (Jégou, Douze & Schmid, "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011, §III: train K-means per
    subspace; a frozen coarse quantizer's slices are the canonical
    warm start).  Deriving from the ONE frozen constant keeps the
    whole ANN stack (cluster assign, IVF probe, PQ codes) pinned to a
    single artifact the oracle builder reads too."""
    d = len(centroids[0])
    if d % n_sub:
        raise ValueError(f"dim {d} not divisible into {n_sub} subspaces")
    ds = d // n_sub
    return [
        [list(c[m * ds : (m + 1) * ds]) for c in centroids]
        for m in range(n_sub)
    ]


def _pq_sub_expr(vec_col: str, m: int, d_sub: int) -> str:
    return f"slice({vec_col}, {m * d_sub + 1}, {d_sub})"


def pq_encode_frozen(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode every vector against FROZEN per-subspace codebooks:
    code_m = argmin_i ‖x_m − c_mi‖² via the same affine-score argmax
    as the coarse tier (ties → lowest code).  M·K scan-stage DECIMAL
    dots against literal arrays — zero joins, zero shuffles; the
    64-float vector compresses to M small ints (the memory tier that
    fits 10⁹+ vectors in RAM at cluster scale)."""
    d_sub = len(codebooks[0][0])
    cols = [F.col(id_col)]
    for m, book in enumerate(codebooks):
        sub = _pq_sub_expr(vec_col, m, d_sub)
        scores = []
        for cw in book:
            arr = "array(" + ", ".join(repr(float(v)) for v in cw) + ")"
            half = 0.5 * sum(float(v) * float(v) for v in cw)
            scores.append(_dot_dec(sub, arr) - F.lit(half))
        cols.append(_frozen_argmax(scores).alias(f"code_{m}"))
    return vectors.select(*cols)


def pq_knn_frozen(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes —
    the PQ serving tier of Jégou et al. 2011 §IV: the corpus is seen
    only through its M frozen codes, each query precomputes one
    M×K lookup table of exact subspace dots, and a candidate's score
    is M table lookups instead of a d-length dot.  Like
    `ivf_knn_frozen`, every arithmetic step is deterministic given the
    frozen codebooks (DECIMAL subspace dots, fixed summation order),
    so the approximate tier's output is ORACLE-HASHABLE — the
    approximation is the quantization itself, never how scores are
    computed.

    Physical shape: corpus encoding rides the scan (zero shuffle); the
    bounded query set broadcasts with its lookup tables (M·K doubles
    per query); scoring is a broadcast product over (corpus × Q) rows
    of M element_at lookups; the per-query top-k window sees
    |Q|-keyed data.  Returns (query_id, neighbor_id, adc_score, rank),
    self-matches excluded."""
    d_sub = len(codebooks[0][0])
    codes = pq_encode_frozen(corpus, codebooks, vec_col, id_col)
    codes = codes.withColumnRenamed(id_col, "neighbor_id")
    qsel = [F.col(id_col).alias("query_id")]
    for m, book in enumerate(codebooks):
        sub = _pq_sub_expr(vec_col, m, d_sub)
        table = [
            _dot_dec(
                sub,
                "array(" + ", ".join(repr(float(v)) for v in cw) + ")",
            )
            for cw in book
        ]
        qsel.append(F.array(*table).alias(f"_t{m}"))
    q = queries.select(*qsel)
    score = None
    for m in range(len(codebooks)):
        term = F.element_at(F.col(f"_t{m}"), F.col(f"code_{m}") + 1)
        score = term if score is None else score + term
    scored = (
        codes.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def dim_profile(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension health profile of an embedding corpus: count,
    mean, population variance, min, max for every coordinate — the
    collapse/corruption screen a 100 TB embedding pipeline runs before
    indexing (a DEAD dimension shows var 0 and lo == hi; a blown-up
    encoder shows runaway variance; an off-by-one truncation shows a
    short n on the tail dims).

    Engine-exactness: each coordinate is a float widened to double
    (exact); v and v·v accumulate as DECIMAL(38,18) quantized terms
    (order-free sums, the zipf_slope convention), then mean and the
    n²-scaled variance identity (n·Q − S²)/n² run as a fixed IEEE
    tree over the cast sums, rounded 6dp (the DECIMAL-sum/6dp
    convention); min/max are exact doubles, no rounding.

    100 TB shape: ONE posexplode projection (scan-stage, n·d rows
    never materialized wider than (dim, v)) + one map-side-combinable
    groupBy(dim) aggregate over d groups.  Returns one row per
    dimension (dim 0-based, n_vecs, mean, variance, lo, hi), ordered
    by dim."""
    flat = emb.where(F.col(vec_col).isNotNull()).select(
        F.posexplode(vec_col).alias("dim", "_v")
    )
    v = F.col("_v").cast("double")
    d18 = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    agg = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(d18(v)).alias("s"),
        F.sum(d18(v * v)).alias("q"),
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
    )
    n = F.col("n_vecs").cast("double")
    s, q = F.col("s").cast("double"), F.col("q").cast("double")
    return agg.select(
        "dim",
        "n_vecs",
        F.round(s / n, 6).alias("mean"),
        F.round((n * q - s * s) / (n * n), 6).alias("variance"),
        "lo",
        "hi",
    ).orderBy("dim")


def anisotropy(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus anisotropy diagnostic (Ethayarajh EMNLP 2019 framing):
    how far the embedding cloud is from isotropic — the centroid's
    norm relative to the vectors' RMS norm, and the mean cosine of
    each vector to the centroid.  An anisotropic ("cone-shaped")
    space inflates every cosine similarity, so dedup thresholds and
    ANN recall tuned on one corpus silently mis-calibrate on another;
    this is the one-row health check run beside dim_profile before
    indexing.

    Engine-exactness: per-dim centroid sums, per-vector dot/norm
    partial terms and the final vector-level averages all accumulate
    as DECIMAL(38,18) quantized terms (order-free, the zipf_slope
    convention); sqrt is IEEE-correctly-rounded; outputs at 6dp.

    100 TB shape: TWO scan passes over the corpus (the centroid pass
    aggregates the explode to d rows map-side; the score pass
    re-explodes, broadcast-joins the d-row centroid back on dim, and
    folds per-vector dot/norm partials map-side before the vid
    aggregate) — a one-pass form would have to persist the n·d
    explode, which at 100 TB costs more than the second scan.
    Everything downstream of the scans is d-row or vec-count work.
    Returns one row (n_vecs, n_dims, centroid_norm, rms_norm,
    mean_cos_to_centroid)."""
    flat = emb.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.posexplode(vec_col).alias("dim", "_v"),
    )
    v = F.col("_v").cast("double")
    d18 = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    cent = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum(d18(v)).alias("s"),
    )
    m = cent.select(
        "dim",
        (F.col("s").cast("double") / F.col("nv").cast("double")).alias(
            "m"
        ),
    )
    per_vec = (
        flat.join(F.broadcast(m), "dim")
        .groupBy("vid")
        .agg(
            F.sum(d18(v * F.col("m"))).alias("dot"),
            F.sum(d18(v * v)).alias("q"),
        )
    )
    cn = (
        m.agg(F.sum(d18(F.col("m") * F.col("m"))).alias("mm"))
        .select(F.sqrt(F.col("mm").cast("double")).alias("cnorm"))
    )
    scored = per_vec.crossJoin(F.broadcast(cn)).select(
        F.col("q").cast("double").alias("qd"),
        F.when(
            (F.col("q") > 0) & (F.col("cnorm") > 0),
            F.col("dot").cast("double")
            / (F.sqrt(F.col("q").cast("double")) * F.col("cnorm")),
        ).alias("cos"),
        "cnorm",
    )
    nd = m.groupBy().agg(F.count(F.lit(1)).alias("n_dims"))
    return (
        scored.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.max("cnorm"), 6).alias("centroid_norm"),
            F.round(
                F.sqrt(
                    F.sum(d18(F.col("qd"))).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ),
                6,
            ).alias("rms_norm"),
            F.round(
                F.sum(d18(F.col("cos"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_cos_to_centroid"),
        )
        # an EMPTY corpus yields ZERO rows on both engines: Spark's
        # global agg produces one (0, NULL...) row here while the
        # oracle's GROUP BY n_dims over an empty input produces none
        # (r13 review finding) — and an empty-profile row carries no
        # information anyway
        .where(F.col("n_vecs") > 0)
        .crossJoin(F.broadcast(nd))
        .select(
            "n_vecs",
            "n_dims",
            "centroid_norm",
            "rms_norm",
            "mean_cos_to_centroid",
        )
    )
